"""S1/E12 landing-zone ingestion — the runnable counterpart of the
reference's scraper + text-to-database stages.

The reference's scraper walks entscheidsuche.ch and lands files per
spider as ``<spider>/<name>.json`` (metadata) + ``<name>.html`` /
``<name>.pdf`` (`scrc/preprocessors/scraper.py:32-99`), then
`text_to_database.py:117-254` reads that tree, picks metadata fields
by hand (Signatur, Num, HTML.URL, PDF.URL, Datum — lines 194-228) and
extracts text from the HTML/PDF payloads.  HTTP downloading is
driver-side by design (SURVEY §2.2 S1); everything AFTER the landing
zone is a Spark job, and this module is that job, runnable end to end
against a local fixture tree:

- ``spark.read.format("binaryFile")`` scans the tree — one row per
  file, executors read the bytes, the driver never touches payloads;
- paths parse into (spider, name, ext) and pivot to one row per
  DOCUMENT carrying its json/html/pdf payloads;
- metadata decodes with an EXPLICIT schema (never inference — SURVEY
  §2.1);
- text comes from the real extractors: per-spider HTML rules
  (`extraction/html.py`) or the pure-python PDF text recovery
  (`extraction/pdf.py`), html preferred like the reference;
- incremental re-ingest skips already-processed documents via an
  anti-join against their keys (`sources/manifest.py::new_rows_only` —
  the scraper's incremental check at `scraper.py:80-93`); the corpus
  build passes the decision table's file_names.

At scale: binaryFile splits by file; a landing zone of millions of
small files is parallel by count.  The anti-join runs on the file
rows, broadcast while the processed keys are few (see
`sources/manifest.py`), so the (spider, name) pivot shuffles and the
HTML/PDF extractors see only the new documents' files.  The batch
takes its partition count from the listing, not from
``spark.sql.shuffle.partitions`` (:func:`batch_partitions`), and every
cache and table write of the corpus build downstream inherits it.

Demo: ``python -m swisscourtrulingcorpus_spark.sources.ingest /tmp/lz``
writes a deterministic fixture tree (if absent), ingests it, prints
per-spider counts, then re-ingests incrementally and prints the
(empty) delta.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
)

# Explicit metadata schema — the fields text_to_database.py:194-228
# picks by hand.  Nested HTML.URL / PDF.URL mirror the scraped JSON.
METADATA_SCHEMA = StructType(
    [
        StructField("Signatur", StringType()),
        StructField("Num", StringType()),
        StructField("Datum", StringType()),
        StructField("Abteilung", StringType()),  # chamber
        StructField(
            "HTML", StructType([StructField("URL", StringType())])
        ),
        StructField(
            "PDF", StructType([StructField("URL", StringType())])
        ),
    ]
)


def write_fixture_tree(root: str, n_docs: int = 24, spiders=("CH_BGer", "CH_BGE")) -> int:
    """Deterministic landing-zone fixture: per doc a ``.json`` metadata
    file plus an ``.html`` (even ids) or FlateDecode ``.pdf`` (odd
    ids) payload — the exact file layout the reference's scraper
    produces, with content the real extractors can parse."""
    import zlib

    written = 0
    for spider_idx, spider in enumerate(spiders):
        d = os.path.join(root, spider)
        os.makedirs(d, exist_ok=True)
        for i in range(n_docs):
            doc_id = spider_idx * n_docs + i
            name = f"{spider}_{i:04d}"
            meta = {
                "Signatur": f"{spider}.{i:04d}",
                "Num": f"{i % 9}C_{100 + i}/20{10 + i % 15}",
                "Datum": f"20{10 + i % 15}-0{i % 9 + 1}-1{i % 9}",
                "HTML": {"URL": f"https://example.invalid/{name}.html"}
                if doc_id % 2 == 0
                else None,
                "PDF": {"URL": f"https://example.invalid/{name}.pdf"}
                if doc_id % 2 == 1
                else None,
            }
            with open(os.path.join(d, f"{name}.json"), "w") as fh:
                json.dump(meta, fh, sort_keys=True)
            if doc_id % 2 == 0:
                body = (
                    f'<div class="content"><p>Sachverhalt {doc_id}</p>'
                    f"<p>Die Vorinstanz entschied am 1{i % 9}. Tag.</p></div>"
                    '<div class="footer">Impressum</div>'
                )
                with open(os.path.join(d, f"{name}.html"), "w") as fh:
                    fh.write(body)
            else:
                content = (
                    f"BT /F1 12 Tf 50 720 Td (Erw\\344gungen {doc_id}:) Tj "
                    f"0 -14 Td (Das Gesuch wird abgewiesen.) Tj ET"
                ).encode("latin-1")
                stream = zlib.compress(content)
                pdf = (
                    b"%PDF-1.4\n1 0 obj\n<< /Length "
                    + str(len(stream)).encode()
                    + b" /Filter /FlateDecode >>\nstream\n"
                    + stream
                    + b"\nendstream\nendobj\ntrailer\n<<>>\n%%EOF"
                )
                with open(os.path.join(d, f"{name}.pdf"), "wb") as fh:
                    fh.write(pdf)
            written += 1
    return written


def _pdf_with_text(text: str) -> bytes:
    """A minimal FlateDecode PDF whose content stream renders ``text``
    line by line — what the fixture landing zone uses so the REAL pdf
    extractor (`extraction/pdf.py`) exercises against marker-structured
    court text.  Latin-1 only; (, ), \\ and non-ASCII escape per the
    PDF literal-string rules."""
    import zlib

    def esc(line: str) -> str:
        out = []
        for ch in line:
            o = ord(ch)
            if ch in "()\\":
                out.append("\\" + ch)
            elif 32 <= o < 127:
                out.append(ch)
            elif o < 256:
                out.append("\\%03o" % o)
            else:
                out.append("?")
        return "".join(out)

    body = (
        "BT /F1 12 Tf 50 720 Td "
        + " ".join(f"({esc(ln)}) Tj 0 -14 Td" for ln in text.split("\n"))
        + " ET"
    )
    stream = zlib.compress(body.encode("latin-1"))
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(stream)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + stream
        + b"\nendstream\nendobj\ntrailer\n<<>>\n%%EOF"
    )


def write_rich_fixture_tree(root: str, n_docs: int = 120) -> list[str]:
    """Landing zone with FULL marker-structured court text (VERDICT r04
    item 8): the domain fixture corpus (`sources/domain_fixtures.py::
    build_raw_corpus` — headers, facts/considerations/rulings markers,
    citations, outcomes in three languages) written as raw FILES the
    way the reference's scraper lands them: per doc a ``.json``
    metadata file plus an ``.html`` (even ids) or FlateDecode ``.pdf``
    (odd ids) payload, plus media attachments: a PNG every 5th doc
    (pixel (x,y,c) = (id + 3x + 7y + 11c) % 256, 6×4 RGB), a WAV every
    6th (8 kHz mono, id%20+5 frames, sample j = ((17·id + 5j) mod
    65536) − 32768) and an AVI every 8th (id%3+1 DIB frames of 3×2,
    pixel (f,x,y,c) = (id + 5f + 7x + 11y + 13c) % 256).  Returns the
    list of document names written."""
    import html as _html

    from swisscourtrulingcorpus_spark.extraction.imagecodec import encode_png
    from swisscourtrulingcorpus_spark.sources.domain_fixtures import (
        build_raw_corpus,
    )

    names: list[str] = []
    for i, row in enumerate(build_raw_corpus(n_docs)):
        spider = row["spider"]
        d = os.path.join(root, spider)
        os.makedirs(d, exist_ok=True)
        name = os.path.splitext(row["file_name"])[0]
        meta = {
            "Signatur": f"{spider}.{i:05d}",
            "Num": f"{i % 9}C_{100 + i}/{row['date'][:4]}",
            "Datum": row["date"],
            "Abteilung": row["chamber"],
            "HTML": {"URL": f"https://example.invalid/{name}.html"}
            if i % 2 == 0
            else None,
            "PDF": {"URL": f"https://example.invalid/{name}.pdf"}
            if i % 2 == 1
            else None,
        }
        with open(os.path.join(d, f"{name}.json"), "w") as fh:
            json.dump(meta, fh, sort_keys=True)
        if i % 2 == 0:
            paras = "".join(
                f"<p>{_html.escape(ln)}</p>"
                for ln in row["raw_text"].split("\n")
                if ln
            )
            body = f'<div class="content">{paras}</div>'
            if spider == "CH_BGer":
                # the content rule selects div.content; the footer must
                # NOT leak into the text (r04 ADVICE repro)
                body += '<div class="footer">Impressum</div>'
            with open(os.path.join(d, f"{name}.html"), "w") as fh:
                fh.write(body)
        else:
            with open(os.path.join(d, f"{name}.pdf"), "wb") as fh:
                fh.write(_pdf_with_text(row["raw_text"]))
        if i % 5 == 0:
            px = bytes(
                (i + 3 * x + 7 * y + 11 * c) % 256
                for y in range(4)
                for x in range(6)
                for c in range(3)
            )
            with open(os.path.join(d, f"{name}.png"), "wb") as fh:
                fh.write(encode_png(6, 4, 3, px))
        if i % 6 == 0:  # audio attachment (hearing recording shape)
            from swisscourtrulingcorpus_spark.extraction.audiocodec import (
                encode_wav,
            )

            samples = [
                ((i * 17 + 5 * j) % 65536) - 32768 for j in range(i % 20 + 5)
            ]
            with open(os.path.join(d, f"{name}.wav"), "wb") as fh:
                fh.write(encode_wav(8000, 1, samples))
        if i % 8 == 0:  # video attachment (proceedings clip shape)
            from swisscourtrulingcorpus_spark.extraction.videocodec import (
                encode_avi,
            )

            frames = [
                bytes(
                    (i + 5 * f + 7 * x + 11 * y + 13 * c) % 256
                    for y in range(2)
                    for x in range(3)
                    for c in range(3)
                )
                for f in range(i % 3 + 1)
            ]
            with open(os.path.join(d, f"{name}.avi"), "wb") as fh:
                fh.write(encode_avi(3, 2, frames))
        names.append(name)
    return names


MEDIA_GLOB = "*.{png,wav,avi}"


def parse_media_paths(files: DataFrame) -> DataFrame:
    """binaryFile rows -> (doc_id, kind, payload); shared by the batch
    media scan and the streaming media decode job (the
    `parse_file_paths` pattern — one projection, two sources, so batch
    and streaming cannot silently diverge on a new media kind)."""
    return files.select(
        F.regexp_extract("path", r"_(\d+)\.(?:png|wav|avi)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.regexp_extract("path", r"\.(png|wav|avi)$", 1).alias("kind"),
        F.col("content").alias("payload"),
    )


def scan_media_attachments(spark: SparkSession, root: str) -> DataFrame:
    """Landing-zone media attachments as (doc_id, kind, payload) rows
    for the `extraction/multimodal.py` decode stages (image / audio /
    video routed on ``kind``) — doc_id is the fixture's trailing
    integer; a real ingest would join attachments to documents on
    (spider, name)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", MEDIA_GLOB)
        .load(os.path.join(root, "*"))
    )
    return parse_media_paths(files)


def scan_landing_zone(spark: SparkSession, root: str) -> DataFrame:
    """One row per landing-zone FILE: (spider, name, ext, content).
    binaryFile reads bytes executor-side; the path parses with plain
    column expressions (no UDF)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{json,html,htm,pdf,txt}")
        .load(os.path.join(root, "*"))
    )
    return parse_file_paths(files)


def parse_file_paths(files: DataFrame) -> DataFrame:
    """binaryFile rows -> (spider, name, ext, content); shared by the
    batch scan and the streaming file source."""
    return files.select(
        F.regexp_extract("path", r"/([^/]+)/[^/]+$", 1).alias("spider"),
        F.regexp_extract("path", r"/([^/]+)\.[A-Za-z]+$", 1).alias("name"),
        F.lower(F.regexp_extract("path", r"\.([A-Za-z]+)$", 1)).alias("ext"),
        F.col("content"),
    )


# Listed landing-zone files per batch partition: about 1000 documents
# at a json metadata file plus one payload per document.
FILES_PER_PARTITION = 2048


def batch_partitions(files: DataFrame) -> int:
    """Partitions of a landing-zone batch: one per ~1000 listed
    documents, ``clamp(ceil(listed_files / FILES_PER_PARTITION), 1,
    defaultParallelism)``.

    Why rows and not ``spark.sql.shuffle.partitions``: each partition
    of the batch is one task in each of the build's three Python stages
    (the ingest's HTML/PDF UDFs, clean_text, the document pass), and a
    Python task pays a fixed cost before it sees a row.  Measured on a
    4-core ``local[4]`` box, it is about 0.23 s of worker CPU per task,
    most of it in ``pyspark.worker_util.setup_spark_files``, whose
    ``importlib.invalidate_caches()`` re-reads the directory of
    ``pyspark.zip`` once for each of 16 zip importers.  That is about
    0.7 s per partition over the three stages, plus one cold worker
    start, against about 0.9 ms of kernel work per document
    (perfbench's ``extraction.*_us_per_doc``): a partition must hold
    about a thousand documents before its rows cost what its fixed
    overhead does.  At 8 shuffle partitions a 50-document append ran
    24 such tasks.  The lower bound is 1, not the core count: when the
    batch still followed ``spark.sql.shuffle.partitions``, changing
    only that conf, a 500-document build took 15.6 / 12.8 / 12.3 /
    11.7 s at 8 / 4 / 2 / 1 partitions, and a 50-document append
    15.0 / 12.8 / 11.8 s at 8 / 4 / 1 (4 cores, 3 seeds each, cold
    operation).

    The divisor is unverified above one partition: it decides only
    batches of more than 2048 listed files, and there untimed
    perfbench (4 cores, one cold operation, 6 seeds per setting in
    rotated order) cannot tell its choice from its neighbours.
    corpus_build took 12.8 / 12.1 / 12.1 s (median) at 1 / 2 / 4
    partitions for 2000 documents, where the rule picks 2, and
    19.3 / 16.6 / 18.3 s for 8000 documents, where it picks 4; the
    runs of one setting spread over 3 to 9 s.  A 50-document append
    onto an 8000-document landing zone (16100 listed files, so 4
    partitions) took 16.4 s against 18.9 s at 1 partition (4 seeds,
    3 of 4 pairs won).

    ``listed_files`` is the length of the scan's file index, read in
    one call: ``DataFrame.inputFiles()`` would fetch every path."""
    listed = len(files._jdf.inputFiles())
    parallelism = files.sparkSession.sparkContext.defaultParallelism
    return min(max(1, -(-listed // FILES_PER_PARTITION)), parallelism)


def docs_from_scanned_files(
    files: DataFrame,
    manifest: DataFrame | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """(spider, name, ext, content) file rows -> one typed row per
    DOCUMENT — the shared transformation behind the batch ingest and
    the per-micro-batch body of the streaming ingest job.

    ``manifest`` rows name already-processed documents by any of the
    file rows' key columns (its own columns: ``(spider, name)`` or
    ``name`` alone).  They are anti-joined away from the FILE rows,
    before the pivot, so the shuffle and the HTML/PDF extractors see
    only new documents.  With ``partitions`` (the batch ingest passes
    :func:`batch_partitions` of its listing) the remaining file rows
    are hash-partitioned by (spider, name) into that many partitions
    before the pivot, which keeps that partitioning; without it (a
    streaming micro-batch, whose frame has no file listing) the pivot
    shuffles into ``spark.sql.shuffle.partitions``."""
    from swisscourtrulingcorpus_spark.extraction.html import (
        html_to_text_spider_udf,
    )
    from swisscourtrulingcorpus_spark.extraction.pdf import (
        extract_pdf_text_udf,
    )
    from swisscourtrulingcorpus_spark.sources.manifest import new_rows_only

    if manifest is not None:
        files = new_rows_only(files, manifest, manifest.columns)
    if partitions is not None:
        files = files.repartition(partitions, "spider", "name")
    by_doc = (
        files.groupBy("spider", "name")
        .agg(
            F.max(F.when(F.col("ext") == "json", F.col("content"))).alias("__json"),
            F.max(
                F.when(F.col("ext").isin("html", "htm"), F.col("content"))
            ).alias("__html"),
            F.max(F.when(F.col("ext") == "pdf", F.col("content"))).alias("__pdf"),
        )
    )
    meta = F.from_json(F.decode("__json", "UTF-8"), METADATA_SCHEMA)
    html_text = html_to_text_spider_udf(
        F.decode("__html", "UTF-8"), F.col("spider")
    )
    pdf_text = extract_pdf_text_udf(F.col("__pdf"))
    return by_doc.select(
        "spider",
        "name",
        meta["Signatur"].alias("signatur"),
        meta["Num"].alias("num"),
        meta["Datum"].alias("datum"),
        meta["Abteilung"].alias("chamber"),
        meta["HTML"]["URL"].alias("html_url"),
        meta["PDF"]["URL"].alias("pdf_url"),
        # html preferred over pdf, like text_to_database.py:238-254
        F.coalesce(html_text, pdf_text).alias("text"),
        F.when(F.col("__html").isNotNull(), F.lit("html"))
        .when(F.col("__pdf").isNotNull(), F.lit("pdf"))
        .otherwise(F.lit("metadata-only"))
        .alias("source_format"),
    )


def ingest_landing_zone(
    spark: SparkSession,
    root: str,
    manifest: DataFrame | None = None,
) -> DataFrame:
    """Landing zone -> one typed row per DOCUMENT:
    (spider, name, signatur, num, datum, html_url, pdf_url, text,
    source_format), in :func:`batch_partitions` partitions.
    ``manifest`` keys (``(spider, name)``, or ``name`` alone) are
    skipped before any text is extracted — re-running over an
    unchanged tree ingests nothing.
    """
    files = scan_landing_zone(spark, root)
    return docs_from_scanned_files(files, manifest, batch_partitions(files))


def main() -> None:  # pragma: no cover - demo CLI
    import sys

    from swisscourtrulingcorpus_spark.session import get_spark

    root = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scrc_landing_zone"
    if not os.path.isdir(root):
        n = write_fixture_tree(root)
        print(f"wrote {n} fixture documents under {root}")
    spark = get_spark(app_name="landing-zone-ingest")
    docs = ingest_landing_zone(spark, root).cache()
    docs.groupBy("spider", "source_format").count().orderBy(
        "spider", "source_format"
    ).show()
    manifest = docs.select("spider", "name")
    delta = ingest_landing_zone(spark, root, manifest=manifest)
    print("incremental re-ingest new rows:", delta.count())
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
