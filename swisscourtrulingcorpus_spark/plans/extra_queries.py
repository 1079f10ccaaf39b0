"""Additional operator-coverage queries: semi-structured JSON, regex
predicates (P6), counter roll-ups (A4/F14), multimodal binary columns,
and deterministic UUIDv5 ids (value-checked against a precomputed
fixture parquet — DuckDB has no sha1/uuid5 built-in).
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from swisscourtrulingcorpus_spark.functions.hashing import words_sql
from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.plans.text_queries import _words_duck
from swisscourtrulingcorpus_spark.sources.catalog import load_table


# --- semi-structured: JSON property extraction (the reference reads
# scraped JSON metadata by hand, `text_to_database.py:194-228`) --------

def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(
            "props", StructType([StructField("k", IntegerType())])
        )["k"].alias("k"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    return (
        parsed.withColumn("k_bucket", (F.col("k") % 10).cast("int"))
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("v").cast("double").alias("total_value"),
        )
    )


JSON_PROPS_ORACLE = """
SELECT event_type,
       CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS INTEGER) AS k_bucket,
       count(*) AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


# --- P6: regex predicate on text (`building_violations.py:47`) ---------

def regex_predicate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(F.col("text").rlike(r"merge (join|sort)"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_matching"))
    )


REGEX_PREDICATE_ORACLE = """
SELECT lang, count(*) AS n_matching
FROM documents
WHERE regexp_matches(text, 'merge (join|sort)')
GROUP BY lang
"""


# --- A4/F14: token-counter roll-up (counter merge via explode+rollup;
# `count_computer.py:40-87`, Counter sum `abstract_preprocessor.py:
# 343-352`) -------------------------------------------------------------

def token_counter_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter ladder: per-(lang, token) counts plus per-token global
    counts in one grouping-sets pass (the decision→chamber→court→canton
    ladder of A4, collapsed to two levels here).

    ``groupingSets`` computes EXACTLY the two sets the query outputs —
    the earlier ``cube`` formulation also materialized the (lang) and
    () sets and discarded them, paying for two aggregates that never
    left the plan."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "lang",
        F.expr(f"explode({words_sql('text')})").alias("token"),
    )
    levels = words.groupingSets(
        [["lang", "token"], ["token"]], "lang", "token"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return levels.select(
        F.coalesce(F.col("lang"), F.lit("<ALL>")).alias("lang"),
        "token",
        "cnt",
    ).where(F.col("cnt") >= 50)


TOKEN_COUNTER_ORACLE = f"""
WITH words AS (
  SELECT lang,
         unnest({_words_duck("text")}) AS token
  FROM documents)
SELECT coalesce(lang, '<ALL>') AS lang, token, count(*) AS cnt
FROM words
GROUP BY GROUPING SETS ((lang, token), (token))
HAVING count(*) >= 50
"""


# --- multimodal binary pipeline ---------------------------------------

def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + metadata → mapInPandas feature extraction.
    The oracle reproduces the stub features relationally (byte length =
    octet_length of the UTF-8 text; checksum = md5), proving the binary
    plumbing loses nothing."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        attach_binary_payload,
        decode_image_stub,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary_payload(docs, "text", "doc_id")
    return decode_image_stub(media)


MULTIMODAL_ORACLE = """
SELECT doc_id,
       'image/stub' AS media_type,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS checksum,
       CAST(length(text) % 1024 AS INTEGER) AS width,
       CAST(length(text) % 768 AS INTEGER) AS height
FROM documents
"""


def hourly_spine_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling: hourly event counts per type with
    missing hours emitted as 0 — the standard time-series densify
    (`sequence` + explode builds the spine; the grid is spine × the
    tiny type dim, broadcast; counts left-join on).  Needed anywhere
    the reference plots per-period distributions (`report_creator.py`)
    — pandas reindex does this driver-side; the engine does it
    distributed.  Spine size is bounded by the time range (one row per
    hour), never by the event count, so the cross join is safe at any
    corpus scale."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    counts = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return (
        spine.crossJoin(F.broadcast(types))
        .join(counts, ["hour", "event_type"], "left")
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
        )
    )


SPINE_ORACLE = """
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt
  FROM events GROUP BY 1, 2)
SELECT strftime(s.hour, '%Y-%m-%d %H:%M:%S') AS hour,
       t.event_type,
       coalesce(c.cnt, 0) AS cnt
FROM spine s
CROSS JOIN types t
LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = t.event_type
"""


def unpivot_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): per-doc stats as (doc_id, stat, value)
    rows — the inverse of `user_event_pivot`, completing the reshape
    pair.  Map-side row expansion, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    wide = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.expr(f"cast(size({words_sql('text')}) as bigint)").alias("n_tokens"),
    )
    return wide.unpivot("doc_id", ["n_chars", "n_tokens"], "stat", "value")


UNPIVOT_ORACLE = f"""
SELECT doc_id, 'n_chars' AS stat, CAST(n_chars AS BIGINT) AS value
FROM documents
UNION ALL
SELECT doc_id, 'n_tokens' AS stat,
       CAST(len({_words_duck("text")}) AS BIGINT) AS value
FROM documents
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out (1→N mapInPandas): each binary payload
    yields len%5+1 deterministic frames.  The oracle reproduces the
    fan-out with generate_series + the same md5 chain, proving row
    multiplicity, ordering-free equality and checksum derivation all
    survive the Arrow batch boundary."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        attach_binary_payload,
        sample_frames_stub,
    )

    docs = load_table(spark, sf_dir, "documents")
    return sample_frames_stub(attach_binary_payload(docs, "text", "doc_id"))


FRAME_SAMPLE_ORACLE = """
WITH m AS (
  SELECT doc_id,
         md5(text) AS checksum,
         octet_length(encode(text)) % 5 + 1 AS k
  FROM documents),
f AS (
  SELECT doc_id, checksum, unnest(range(0, k)) AS i FROM m)
SELECT doc_id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(i * 40 AS BIGINT) AS ts_offset_ms,
       md5(checksum || '#' || CAST(i AS VARCHAR)) AS frame_checksum
FROM f
"""


# --- deterministic UUIDv5 ids ------------------------------------------

def uuid5_document_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference id semantics (`sql_select_utils.py:168`): uuid5 with
    namespace UUID(int=0) over a name.  DuckDB has no sha1/uuid5, so
    the oracle joins a precomputed fixture parquet
    (`resources/uuid5_doc_ids.parquet`, doc_id 0..4999, generated once
    by Python's stdlib ``uuid.uuid5``) — a real value check instead of
    the rows-only fallback."""
    from swisscourtrulingcorpus_spark.extraction.ids import uuid5_sql

    docs = load_table(spark, sf_dir, "documents")
    name = "concat('doc_', cast(doc_id as string))"
    return docs.selectExpr("doc_id", f"{uuid5_sql(name)} AS decision_id")


# --- real PNG/BMP decode (retires the r03 multimodal stub) -------------

def png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star multimodal gate: deterministic PNG/BMP payloads are
    ENCODED from doc_id arithmetic in one mapInPandas stage, cross the
    Arrow boundary as a binary column, and are DECODED for real
    (stdlib zlib inflate + scanline unfilter incl. Paeth; BMP BGR
    un-padding) in a second stage (`extraction/imagecodec.py`,
    `extraction/multimodal.py::decode_image_features`).  The oracle
    recomputes every pixel statistic from the same arithmetic without
    ever touching bytes — a broken filter branch or row-order bug
    changes pixel_sum/min/max and fails the hash."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        decode_image_features,
        generate_image_fixture,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_image_features(generate_image_fixture(docs))


PNG_DECODE_ORACLE = """
WITH p AS (SELECT doc_id FROM documents),
gx AS (SELECT doc_id, unnest(generate_series(0, doc_id % 4 + 1)) AS x FROM p),
gy AS (SELECT doc_id, x, unnest(generate_series(0, doc_id % 3 + 1)) AS y FROM gx),
gc AS (
  SELECT doc_id, x, y,
         unnest(generate_series(
           0, CASE WHEN doc_id % 2 = 0 AND doc_id % 4 = 0 THEN 3 ELSE 2 END)) AS c
  FROM gy)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
       doc_id % 4 + 2 AS width,
       doc_id % 3 + 2 AS height,
       CASE WHEN doc_id % 2 = 0 AND doc_id % 4 = 0 THEN 4 ELSE 3 END AS channels,
       CAST(sum((doc_id + 7*x + 13*y + 29*c) % 256) AS BIGINT) AS pixel_sum,
       min((doc_id + 7*x + 13*y + 29*c) % 256) AS px_min,
       max((doc_id + 7*x + 13*y + 29*c) % 256) AS px_max
FROM gc
GROUP BY doc_id
"""


def jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closes the codec family next to `png_decode_stats`: baseline
    JPEGs are ENCODED from doc_id arithmetic (constant 8×8 blocks +
    flat quant table = bit-exact DCT round trip; restart interval
    cycles 0/1/2; widths/heights off the 8-grid exercise padding) and
    DECODED for real (`extraction/jpegcodec.py`: marker parse, Huffman
    entropy decode, DC prediction, zigzag dequant, IDCT).  The oracle
    recomputes every pixel statistic from the same arithmetic without
    touching bytes — a Huffman, predictor, restart or IDCT bug changes
    pixel_sum/min/max and fails the hash."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        decode_image_features,
        generate_jpeg_fixture,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_image_features(generate_jpeg_fixture(docs))


JPEG_DECODE_ORACLE = """
WITH p AS (SELECT doc_id FROM documents),
gx AS (SELECT doc_id, unnest(generate_series(0, doc_id % 21 + 3)) AS x FROM p),
gy AS (SELECT doc_id, x, unnest(generate_series(0, doc_id % 13 + 3)) AS y FROM gx)
SELECT doc_id,
       'jpeg' AS fmt,
       CAST(doc_id % 21 + 4 AS BIGINT) AS width,
       CAST(doc_id % 13 + 4 AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS channels,
       CAST(sum((3*doc_id + 11*(x//8) + 17*(y//8)) % 256) AS BIGINT) AS pixel_sum,
       min((3*doc_id + 11*(x//8) + 17*(y//8)) % 256) AS px_min,
       max((3*doc_id + 11*(x//8) + 17*(y//8)) % 256) AS px_max
FROM gy
GROUP BY doc_id
"""


def mixed_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB multimodal decode SHAPE in one gate: a mixed corpus
    (PNG / BMP / grayscale JPEG / deliberately-undecodable payload,
    cycling doc_id % 4) through ONE `decode_image_features` scan — all
    three codecs dispatch, the bad rows pass through as 'other' with
    null stats instead of killing the task (r05 review contract).  The
    oracle recomputes every branch arithmetically: RGB stats for
    PNG/BMP, the constant-block closed form for JPEG (images ≤6×4 are
    one DC-only block: every pixel = doc_id % 256), typed NULLs for
    the undecodable quarter."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        decode_image_features,
        generate_mixed_media_fixture,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_image_features(generate_mixed_media_fixture(docs))


MIXED_IMAGE_ORACLE = """
WITH dims AS (
  SELECT doc_id, doc_id % 4 AS kind, doc_id % 5 + 2 AS w, doc_id % 3 + 2 AS h
  FROM documents),
gx AS (SELECT doc_id, kind, w, h, unnest(generate_series(0, w - 1)) AS x
       FROM dims WHERE kind IN (0, 1)),
gy AS (SELECT doc_id, kind, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM gx),
gc AS (SELECT doc_id, kind, x, y, unnest(generate_series(0, 2)) AS c FROM gy),
rgb AS (
  SELECT g.doc_id,
         CASE WHEN g.kind = 0 THEN 'png' ELSE 'bmp' END AS fmt,
         CAST(d.w AS BIGINT) AS width,
         CAST(d.h AS BIGINT) AS height,
         CAST(3 AS BIGINT) AS channels,
         CAST(sum((g.doc_id + 7*g.x + 13*g.y + 29*g.c) % 256) AS BIGINT) AS pixel_sum,
         min((g.doc_id + 7*g.x + 13*g.y + 29*g.c) % 256) AS px_min,
         max((g.doc_id + 7*g.x + 13*g.y + 29*g.c) % 256) AS px_max
  FROM gc g JOIN dims d USING (doc_id)
  GROUP BY g.doc_id, g.kind, d.w, d.h),
jp AS (
  SELECT doc_id, 'jpeg' AS fmt,
         CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         CAST(1 AS BIGINT) AS channels,
         CAST(w * h * (doc_id % 256) AS BIGINT) AS pixel_sum,
         doc_id % 256 AS px_min, doc_id % 256 AS px_max
  FROM dims WHERE kind = 2),
oth AS (
  SELECT doc_id, 'other' AS fmt,
         CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
         CAST(NULL AS BIGINT) AS channels, CAST(NULL AS BIGINT) AS pixel_sum,
         CAST(NULL AS BIGINT) AS px_min, CAST(NULL AS BIGINT) AS px_max
  FROM dims WHERE kind = 3)
SELECT * FROM rgb UNION ALL SELECT * FROM jp UNION ALL SELECT * FROM oth
"""


def wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through Spark: a deterministic WAV corpus
    (16-bit PCM, mixed rates/channels, every 7th payload a float-PCM
    reject exercising the pass-through contract) through the
    `decode_audio_features` mapInPandas stage.  The oracle recomputes
    every integer sample statistic arithmetically — sample i of doc d
    is ((31d + 7i) mod 65536) − 32768 — so the RIFF parse → PCM unpack
    path through real bytes is what's verified."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        decode_audio_features,
        generate_wav_fixture,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_audio_features(generate_wav_fixture(docs))


WAV_DECODE_ORACLE = """
WITH dims AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sr,
         doc_id % 2 + 1 AS ch,
         doc_id % 50 + 10 AS n
  FROM documents),
vals AS (
  SELECT doc_id, sr, ch, n,
         (doc_id * 31 + 7 * unnest(generate_series(0, n * ch - 1))) % 65536 - 32768
           AS v
  FROM dims WHERE doc_id % 7 <> 3),
ok AS (
  SELECT doc_id, 'wav' AS fmt,
         CAST(sr AS BIGINT) AS sample_rate, CAST(ch AS BIGINT) AS channels,
         CAST(n AS BIGINT) AS n_frames,
         CAST(n * 1000 // sr AS BIGINT) AS duration_ms,
         CAST(sum(v) AS BIGINT) AS amp_sum,
         CAST(min(v) AS BIGINT) AS amp_min, CAST(max(v) AS BIGINT) AS amp_max
  FROM vals GROUP BY doc_id, sr, ch, n),
bad AS (
  SELECT doc_id, 'wav_undecodable' AS fmt,
         CAST(NULL AS BIGINT) AS sample_rate, CAST(NULL AS BIGINT) AS channels,
         CAST(NULL AS BIGINT) AS n_frames, CAST(NULL AS BIGINT) AS duration_ms,
         CAST(NULL AS BIGINT) AS amp_sum,
         CAST(NULL AS BIGINT) AS amp_min, CAST(NULL AS BIGINT) AS amp_max
  FROM dims WHERE doc_id % 7 = 3)
SELECT * FROM ok UNION ALL SELECT * FROM bad
"""


def audio_frame_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The speech-pipeline segmentation primitive through Spark: the
    WAV fixture corpus through `audio_frame_energy` at 1 ms windows —
    a 1→N fan-out whose per-window |sample| sums/peaks the oracle
    recomputes arithmetically (window of flat value i =
    (i // ch) // (sr // 1000); sample value ((31d + 7i) mod 65536) −
    32768), with the float-PCM quarter passing through as null rows."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        audio_frame_energy,
        generate_wav_fixture,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return audio_frame_energy(generate_wav_fixture(docs), frame_ms=1)


AUDIO_ENERGY_ORACLE = """
WITH dims AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sr,
         doc_id % 2 + 1 AS ch,
         doc_id % 50 + 10 AS n
  FROM documents),
vals AS (
  SELECT doc_id,
         abs((doc_id * 31 + 7 * i) % 65536 - 32768) AS av,
         (i // ch) // (sr // 1000) AS w
  FROM (SELECT doc_id, sr, ch, n,
               unnest(generate_series(0, n * ch - 1)) AS i
        FROM dims WHERE doc_id % 7 <> 3)),
ok AS (
  SELECT doc_id, 'wav' AS fmt,
         CAST(w AS BIGINT) AS window_idx, CAST(w AS BIGINT) AS start_ms,
         CAST(count(*) AS BIGINT) AS n_values,
         CAST(sum(av) AS BIGINT) AS energy_sum,
         CAST(max(av) AS BIGINT) AS amp_peak
  FROM vals GROUP BY doc_id, w),
bad AS (
  SELECT doc_id, 'wav_undecodable' AS fmt,
         CAST(NULL AS BIGINT) AS window_idx, CAST(NULL AS BIGINT) AS start_ms,
         CAST(NULL AS BIGINT) AS n_values, CAST(NULL AS BIGINT) AS energy_sum,
         CAST(NULL AS BIGINT) AS amp_peak
  FROM dims WHERE doc_id % 7 = 3)
SELECT * FROM ok UNION ALL SELECT * FROM bad
"""


def avi_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling through Spark: a deterministic
    uncompressed-DIB AVI corpus (1-4 frames each) through the
    `sample_video_frames` 1→N mapInPandas stage at stride 2.  The
    oracle recomputes every sampled frame's integer pixel statistics
    arithmetically — pixel (f, x, y, c) of doc d is
    (d + 3f + 7x + 13y + 29c) mod 256 — so the RIFF walk → bottom-up
    DIB plane → BGR→RGB path through real bytes is what's verified."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        generate_avi_fixture,
        sample_video_frames,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return sample_video_frames(generate_avi_fixture(docs), stride=2)


AVI_FRAME_ORACLE = """
WITH dims AS (
  SELECT doc_id, doc_id % 4 + 1 AS n, doc_id % 3 + 2 AS w, doc_id % 2 + 2 AS h
  FROM documents),
fr AS (SELECT doc_id, w, h, unnest(generate_series(0, n - 1)) AS f FROM dims),
sampled AS (SELECT * FROM fr WHERE f % 2 = 0),
gx AS (SELECT doc_id, w, h, f, unnest(generate_series(0, w - 1)) AS x FROM sampled),
gy AS (SELECT doc_id, w, h, f, x, unnest(generate_series(0, h - 1)) AS y FROM gx),
gc AS (SELECT doc_id, w, h, f, x, y, unnest(generate_series(0, 2)) AS c FROM gy)
SELECT doc_id, 'avi' AS fmt,
       CAST(f AS BIGINT) AS frame_idx,
       CAST(f * 40 AS BIGINT) AS ts_ms,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(sum((doc_id + 3*f + 7*x + 13*y + 29*c) % 256) AS BIGINT) AS pixel_sum,
       CAST(min((doc_id + 3*f + 7*x + 13*y + 29*c) % 256) AS BIGINT) AS px_min,
       CAST(max((doc_id + 3*f + 7*x + 13*y + 29*c) % 256) AS BIGINT) AS px_max
FROM gc
GROUP BY doc_id, f, w, h
"""


_RESOURCES = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "resources"
)
_UUID5_FIXTURE = _os.path.join(_RESOURCES, "uuid5_doc_ids.parquet")
_BPE_MERGES_FIXTURE = _os.path.join(_RESOURCES, "bpe_fixture_merges.parquet")
_BPE_ENCODED_FIXTURE = _os.path.join(_RESOURCES, "bpe_fixture_encoded.parquet")


# --- BPE vs frozen fixture (VERDICT r04 item 5) -------------------------

def bpe_merges_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed BPE trainer (`operators/bpe.py::bpe_train` —
    iterative, whole-corpus-dependent, so no static SQL oracle exists)
    value-checked the `uuid5_document_ids` way: a frozen doc_id-
    arithmetic corpus (`plans/bpe_fixture.py`, identical at every SF)
    is trained in Spark, and the oracle reads the merge table an
    INDEPENDENT pure-Python reference trainer produced offline
    (`tools/make_bpe_fixture.py`).  Any drift in pair counting,
    tie-breaking (count desc, pair asc) or the greedy fold rewrite
    changes some (rank, a, b) row and fails the hash."""
    from swisscourtrulingcorpus_spark.operators.bpe import bpe_train
    from swisscourtrulingcorpus_spark.plans.bpe_fixture import (
        BPE_FIXTURE_DOCS,
        BPE_FIXTURE_MERGES,
        bpe_fixture_text_col,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < BPE_FIXTURE_DOCS)
    )
    corpus = docs.select(bpe_fixture_text_col("doc_id").alias("text"))
    merges = bpe_train(corpus, "text", num_merges=BPE_FIXTURE_MERGES)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, a string, b string",
    )


BPE_MERGES_ORACLE = f"""
SELECT rank, a, b FROM '{_BPE_MERGES_FIXTURE}'
"""


def bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched BPE encoder over the frozen merge table: the
    fixture corpus is reconstructed JVM-side, encoded through
    `bpe_encode_udf` (broadcast merge ranks, greedy lowest-rank-first),
    and compared against offline-encoded output.  Verifies the encode
    path end-to-end through the Arrow boundary — tokenization drift of
    a single word on one doc fails the hash."""
    from swisscourtrulingcorpus_spark.operators.bpe import bpe_encode_udf
    from swisscourtrulingcorpus_spark.plans.bpe_fixture import (
        BPE_FIXTURE_DOCS,
        bpe_fixture_text_col,
    )

    merges = [
        (r["a"], r["b"])
        for r in spark.read.parquet(_BPE_MERGES_FIXTURE).orderBy("rank").collect()
    ]
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < BPE_FIXTURE_DOCS)
    )
    corpus = docs.select("doc_id", bpe_fixture_text_col("doc_id").alias("text"))
    return corpus.select(
        "doc_id",
        F.concat_ws(" ", bpe_encode_udf(merges)("text")).alias("tokens"),
    )


BPE_ENCODE_ORACLE = f"""
SELECT doc_id, tokens FROM '{_BPE_ENCODED_FIXTURE}'
"""

UUID5_ORACLE = f"""
SELECT d.doc_id, f.decision_id
FROM documents d
JOIN '{_UUID5_FIXTURE}' f ON d.doc_id = f.doc_id
"""


# --- W4/S15: seeded random verification sample -------------------------

def sampled_verification_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coverage-verification sample (`coverage_verification.py:
    88-103`: ORDER BY RANDOM() LIMIT n, here seeded per SURVEY §7.3
    risk 4).  The "random" key is md5 of a seed-salted id rather than
    engine RNG state: identical in every engine and at every cluster
    size (rand(seed) is partition-dependent on a real cluster), so the
    sample is reproducible at 100 TB AND DuckDB-oracle-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    rand_key = F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string")))
    return (
        docs.orderBy(rand_key, F.col("doc_id"))
        .limit(50)
        .select("doc_id", "lang", "n_chars")
    )


SAMPLED_VERIFICATION_ORACLE = """
SELECT doc_id, lang, n_chars
FROM documents
ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id
LIMIT 50
"""


def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal round trip the decode gates stop short of:
    deterministic PNG/BMP payloads decode for real, 2x box-filter
    downsample on the executors, and re-encode as BMP24
    (`extraction/multimodal.py::resize_image_features`).  The oracle
    recomputes every resized pixel mean and the exact BMP byte size
    from the construction arithmetic — a wrong block offset, a
    round-instead-of-floor mean, or a padding bug in the writer all
    fail the hash."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        generate_image_fixture,
        resize_image_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return resize_image_features(generate_image_fixture(docs))


IMAGE_RESIZE_ORACLE = """
WITH p AS (SELECT doc_id FROM documents),
dims AS (
  SELECT doc_id,
         doc_id % 4 + 2 AS w, doc_id % 3 + 2 AS h,
         CASE WHEN doc_id % 2 = 0 AND doc_id % 4 = 0 THEN 4 ELSE 3 END AS nch
  FROM p),
gx AS (SELECT *, unnest(generate_series(0, w // 2 - 1)) AS X FROM dims),
gy AS (SELECT *, unnest(generate_series(0, h // 2 - 1)) AS Y FROM gx),
gc AS (SELECT *, unnest(generate_series(0, nch - 1)) AS c FROM gy),
px AS (
  SELECT doc_id, w, h, nch,
         ((doc_id + 7*(2*X)   + 13*(2*Y)   + 29*c) % 256
        + (doc_id + 7*(2*X+1) + 13*(2*Y)   + 29*c) % 256
        + (doc_id + 7*(2*X)   + 13*(2*Y+1) + 29*c) % 256
        + (doc_id + 7*(2*X+1) + 13*(2*Y+1) + 29*c) % 256) // 4 AS v
  FROM gc)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(nch AS BIGINT) AS channels,
       CAST(w // 2 AS BIGINT) AS out_w,
       CAST(h // 2 AS BIGINT) AS out_h,
       CAST(sum(v) AS BIGINT) AS out_pixel_sum,
       CAST(54 + ((w // 2 * 3 + 3) // 4 * 4) * (h // 2) AS BIGINT) AS out_bmp_bytes
FROM px
GROUP BY doc_id, w, h, nch
"""


def mjpg_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motion-JPEG frame sampling: the same 1->N video stage as
    `avi_frame_sample_stats` but over COMPRESSED `00dc` chunks — each
    frame is a standalone baseline JPEG decoded by the shared stdlib
    decoder (`extraction/videocodec.py::_decode_mjpg_frames`), with
    constant-8x8-block fixtures so the DCT round trip is bit-exact and
    the oracle recomputes every pixel statistic arithmetically
    (gray->RGB replicate makes every stat 3x the gray value)."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        generate_mjpg_fixture,
        sample_video_frames,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return sample_video_frames(generate_mjpg_fixture(docs))


MJPG_FRAME_ORACLE = """
WITH p AS (SELECT doc_id FROM documents),
f AS (SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS frame_idx FROM p),
gx AS (SELECT doc_id, frame_idx, unnest(generate_series(0, doc_id % 13 + 3)) AS x FROM f),
g AS (
  SELECT doc_id, frame_idx, x,
         unnest(generate_series(0, doc_id % 9 + 3)) AS y
  FROM gx),
px AS (
  SELECT doc_id, frame_idx,
         (doc_id + 5*frame_idx + 11*(x//8) + 17*(y//8)) % 256 AS v
  FROM g)
SELECT doc_id, 'avi' AS fmt,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(frame_idx * 40 AS BIGINT) AS ts_ms,
       CAST(doc_id % 13 + 4 AS BIGINT) AS width,
       CAST(doc_id % 9 + 4 AS BIGINT) AS height,
       CAST(3 * sum(v) AS BIGINT) AS pixel_sum,
       CAST(min(v) AS BIGINT) AS px_min,
       CAST(max(v) AS BIGINT) AS px_max
FROM px
GROUP BY doc_id, frame_idx
"""


def progressive_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The progressive-JPEG twin of `jpeg_decode_stats`: SOF2 streams
    (spectral-selection DC scan + AC band scan with EOB-run coding,
    `extraction/jpegcodec.py::encode_jpeg_gray_progressive`) decode
    through the multi-scan store + `_assemble_progressive` path — the
    oracle is the SAME arithmetic as the baseline gate, so any
    divergence between the two decode paths fails exactly one hash."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        decode_image_features,
        generate_progressive_jpeg_fixture,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_image_features(generate_progressive_jpeg_fixture(docs))


def gif_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-GIF frame sampling through the real pure-stdlib LZW
    decoder (`extraction/gifcodec.py`): deterministic palettes and
    frame indices are ENCODED from doc_id arithmetic, cross Arrow as
    binary payloads, and every frame decodes back with palette-index
    and RGB sums the oracle recomputes without touching bytes — a
    width-growth or sub-block bug in the LZW path fails the hash."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        generate_gif_fixture,
        sample_gif_frames,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return sample_gif_frames(generate_gif_fixture(docs))


GIF_FRAME_ORACLE = """
WITH p AS (SELECT doc_id FROM documents),
f AS (SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS frame_idx FROM p),
gx AS (SELECT doc_id, frame_idx, unnest(generate_series(0, doc_id % 7 + 2)) AS x FROM f),
g AS (SELECT doc_id, frame_idx, x,
             unnest(generate_series(0, doc_id % 4 + 1)) AS y
      FROM gx),
px AS (
  SELECT doc_id, frame_idx,
         (x + 2*y + frame_idx + doc_id) % (doc_id % 5 + 2) AS i
  FROM g)
SELECT doc_id, 'gif' AS fmt,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(doc_id % 7 + 3 AS BIGINT) AS width,
       CAST(doc_id % 4 + 2 AS BIGINT) AS height,
       CAST(CASE WHEN doc_id % 5 + 2 <= 2 THEN 2
                 WHEN doc_id % 5 + 2 <= 4 THEN 4
                 ELSE 8 END AS BIGINT) AS n_palette,  -- GCT pads to 2^k
       CAST(sum(i) AS BIGINT) AS idx_sum,
       CAST(sum((doc_id + 11*i) % 256 + (doc_id + 23*i) % 256
                + (doc_id + 37*i) % 256) AS BIGINT) AS rgb_sum
FROM px
GROUP BY doc_id, frame_idx
"""


def media_router_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The heterogeneous-corpus router end-to-end: six real formats
    plus junk rows in ONE binary column, sniffed per row and dispatched
    to the right real decoder (`extraction/multimodal.py::
    route_media_features`).  The oracle recomputes every routed unit
    count and statistic from the shared construction arithmetic — a
    sniffing bug routes a row to the wrong branch and fails the hash
    on both class and sum."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        generate_media_router_fixture,
        route_media_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return route_media_features(generate_media_router_fixture(docs))


MEDIA_ROUTER_ORACLE = """
WITH p AS (SELECT doc_id FROM documents),
junk AS (
  SELECT doc_id, 'other' AS media_class, 'other' AS fmt,
         CAST(NULL AS BIGINT) AS n_units, CAST(NULL AS BIGINT) AS stat_sum
  FROM p WHERE doc_id % 97 = 13),
img AS (
  SELECT doc_id,
         'image' AS media_class,
         CASE WHEN doc_id % 6 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
         CAST(1 AS BIGINT) AS n_units,
         CAST(sum((doc_id + 7*x + 13*y + 29*c) % 256) AS BIGINT) AS stat_sum
  FROM (SELECT doc_id,
               unnest(generate_series(0, doc_id % 4 + 1)) AS x
        FROM p WHERE doc_id % 6 IN (0, 1) AND doc_id % 97 <> 13) a,
       unnest(generate_series(0, a.doc_id % 3 + 1)) AS t1(y),
       unnest(generate_series(0, 2)) AS t2(c)
  GROUP BY doc_id),
jpg AS (
  SELECT doc_id, 'image' AS media_class, 'jpeg' AS fmt,
         CAST(1 AS BIGINT) AS n_units,
         CAST(sum((3*doc_id + 11*(x//8) + 17*(y//8)) % 256) AS BIGINT) AS stat_sum
  FROM (SELECT doc_id, unnest(generate_series(0, doc_id % 21 + 3)) AS x
        FROM p WHERE doc_id % 6 = 2 AND doc_id % 97 <> 13) a,
       unnest(generate_series(0, a.doc_id % 13 + 3)) AS t1(y)
  GROUP BY doc_id),
gif AS (
  SELECT doc_id, 'image_anim' AS media_class, 'gif' AS fmt,
         CAST(doc_id % 3 + 1 AS BIGINT) AS n_units,
         CAST(sum((doc_id + 11*i) % 256 + (doc_id + 23*i) % 256
                  + (doc_id + 37*i) % 256) AS BIGINT) AS stat_sum
  FROM (
    SELECT doc_id,
           (x + 2*y + f + doc_id) % (doc_id % 5 + 2) AS i
    FROM (SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS f
          FROM p WHERE doc_id % 6 = 3 AND doc_id % 97 <> 13) a,
         unnest(generate_series(0, a.doc_id % 7 + 2)) AS t1(x),
         unnest(generate_series(0, a.doc_id % 4 + 1)) AS t2(y))
  GROUP BY doc_id),
avi AS (
  SELECT doc_id, 'video' AS media_class, 'avi' AS fmt,
         CAST(doc_id % 3 + 1 AS BIGINT) AS n_units,
         CAST(3 * sum((doc_id + 5*f + 11*(x//8) + 17*(y//8)) % 256) AS BIGINT)
           AS stat_sum
  FROM (SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS f
        FROM p WHERE doc_id % 6 = 4 AND doc_id % 97 <> 13) a,
       unnest(generate_series(0, a.doc_id % 13 + 3)) AS t1(x),
       unnest(generate_series(0, a.doc_id % 9 + 3)) AS t2(y)
  GROUP BY doc_id),
wav AS (
  SELECT doc_id, 'audio' AS media_class, 'wav' AS fmt,
         CAST(doc_id % 50 + 10 AS BIGINT) AS n_units,
         CAST(sum((doc_id * 31 + 7*i) % 65536 - 32768) AS BIGINT) AS stat_sum
  FROM (SELECT doc_id,
               unnest(generate_series(0, (doc_id % 50 + 10) * (doc_id % 2 + 1) - 1)) AS i
        FROM p WHERE doc_id % 6 = 5 AND doc_id % 97 <> 13) a
  GROUP BY doc_id)
SELECT * FROM junk
UNION ALL SELECT * FROM img
UNION ALL SELECT * FROM jpg
UNION ALL SELECT * FROM gif
UNION ALL SELECT * FROM avi
UNION ALL SELECT * FROM wav
"""


def g711_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED audio decode end-to-end: G.711 mu-law and A-law
    containers (`extraction/audiocodec.py::mulaw_expand/alaw_expand`,
    pure ITU formula expansions) through the same
    `decode_audio_features` stage as PCM — the oracle expands every
    companded byte arithmetically in SQL, so a sign-convention or
    segment-shift bug in either law fails the hash."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        decode_audio_features,
        generate_g711_fixture,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_audio_features(generate_g711_fixture(docs))


G711_DECODE_ORACLE = """
WITH dims AS (
  SELECT doc_id, doc_id % 2 + 1 AS ch, (doc_id % 40 + 20) * (doc_id % 2 + 1) AS nb
  FROM documents),
b AS (
  SELECT doc_id, ch, nb,
         (doc_id + 13 * unnest(generate_series(0, nb - 1))) % 256 AS byte
  FROM dims),
v AS (
  SELECT doc_id, ch, nb,
         CASE WHEN doc_id % 2 = 0 THEN
           -- mu-law: u = ~b; sign bit set -> negative
           CASE WHEN (255 - byte) >= 128
                THEN -((((((255 - byte) % 128) // 16) * 0 + ((255 - byte) % 16) * 8 + 132)
                        << (((255 - byte) // 16) % 8)) - 132)
                ELSE (((((255 - byte) % 16) * 8 + 132)
                        << (((255 - byte) // 16) % 8)) - 132)
           END
         ELSE
           -- A-law: a = b XOR 85; sign bit set -> POSITIVE (ITU)
           CASE WHEN xor(byte, 85) >= 128 THEN 1 ELSE -1 END *
           CASE WHEN ((xor(byte, 85) // 16) % 8) > 0
                THEN ((xor(byte, 85) % 16) * 16 + 264) << (((xor(byte, 85) // 16) % 8) - 1)
                ELSE (xor(byte, 85) % 16) * 16 + 8
           END
         END AS v
  FROM b)
SELECT doc_id, 'wav' AS fmt,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(ch AS BIGINT) AS channels,
       CAST(nb // ch AS BIGINT) AS n_frames,
       CAST((nb // ch) * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(sum(v) AS BIGINT) AS amp_sum,
       CAST(min(v) AS BIGINT) AS amp_min,
       CAST(max(v) AS BIGINT) AS amp_max
FROM v
GROUP BY doc_id, ch, nb
"""


def adpcm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL compressed-audio decode end-to-end: mono IMA ADPCM
    (format tag 0x11, `extraction/audiocodec.py::adpcm_decode_block`)
    through the same `decode_audio_features` stage as PCM/G.711.
    Unlike G.711's per-byte formula, ADPCM decode is a per-block
    RECURRENCE (predictor + step-index state advanced per nibble) — the
    oracle replays the encode→decode composition as a recursive CTE
    over the public IMA step/index tables, independently of the Python
    codec, covering block-header resets, step-index carry-over across
    blocks, the odd-tail pad nibble (decodes to one extra sample), and
    the header-only tail block the decoder drops."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        decode_audio_features,
        generate_adpcm_fixture,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_audio_features(generate_adpcm_fixture(docs))


def _banded_hamming_pairs(fp: DataFrame, hash_col: str) -> DataFrame:
    """Gate-side shim over the ONE banded-hamming implementation
    (`operators/dedup.py::banded_hamming_pairs`, shared with
    `simhash_hamming_pairs`): 4x14-bit bands, hamming <= 3,
    (doc_a, doc_b, hamming) output."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        banded_hamming_pairs,
    )

    return banded_hamming_pairs(fp, hash_col)


def image_dhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate IMAGE detection end-to-end: real BMP
    decode -> difference hash (`extraction/multimodal.py::
    image_dhash_fingerprints`) -> banded hamming self-join
    (`_banded_hamming_pairs`) — the multimodal twin of
    `simhash_hamming_pairs`.  The oracle recomputes pixels, hash bits,
    and ALL pairs naively — so a banding bug that DROPS a qualifying
    pair fails the row count, not just the values."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        generate_image_neardup_fixture,
        image_dhash_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fp = image_dhash_fingerprints(generate_image_neardup_fixture(docs)).where(
        F.col("dhash").isNotNull()
    )
    return _banded_hamming_pairs(fp, "dhash")


IMAGE_DHASH_ORACLE = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents),
grid AS (
  SELECT d, yy.y, xx.x,
         CAST(('0x' || substr(md5('dh|' || (d // 32) || '|' || xx.x || '|' || yy.y), 1, 2))::UBIGINT AS BIGINT) AS base
  FROM ids, unnest(generate_series(0, 6)) AS yy(y),
       unnest(generate_series(0, 8)) AS xx(x)),
pert AS (
  SELECT d, j, (d * 13 + 29 * j) % 63 AS p
  FROM (SELECT d, unnest(generate_series(0, d % 4 - 1)) AS j
        FROM ids WHERE d % 4 > 0)),
px AS (
  SELECT g.d, g.y, g.x,
         CASE WHEN p.j IS NOT NULL
              THEN (g.base + 96 + 17 * p.j) % 256
              ELSE g.base
         END AS v
  FROM grid g LEFT JOIN pert p ON p.d = g.d AND p.p = g.y * 9 + g.x),
bits AS (
  SELECT a.d, a.y AS r, a.x AS c,
         CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
  FROM px a JOIN px b ON b.d = a.d AND b.y = a.y AND b.x = a.x + 1
  WHERE a.x < 8),
fp AS (
  SELECT d, CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(r * 8 + c AS INTEGER))) AS BIGINT) AS dhash
  FROM bits GROUP BY d)
SELECT a.d AS doc_a, b.d AS doc_b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.d < b.d
WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
"""


def audio_fingerprint_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate AUDIO detection end-to-end: real RIFF
    PCM decode -> energy-envelope difference hash
    (`extraction/multimodal.py::audio_energy_fingerprints`) -> the same
    `_banded_hamming_pairs` join the image gate uses — multimodal dedup
    now covers text (MinHash/SimHash), images (dHash), and audio.  The
    oracle recomputes every sample, window energy, hash bit and ALL
    pairs from arithmetic alone, so the decode path, windowing, and
    banding completeness are all on the hook."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        audio_energy_fingerprints,
        generate_audio_neardup_fixture,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fp = audio_energy_fingerprints(
        generate_audio_neardup_fixture(docs)
    ).where(F.col("ahash").isNotNull())
    return _banded_hamming_pairs(fp, "ahash")


def media_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality near-dup composition (VERDICT r07 item 7), ALL
    FOUR modalities in one payload column: image BMP / audio WAV /
    video AVI / UTF-8 text interleaved by (doc_id div 8) % 4
    (`extraction/multimodal.py::generate_media_neardup_fixture`),
    routed through the unified sniff-and-fingerprint pass
    (`media_fingerprints` — the `media_router_stats` dispatch order
    feeding `_dhash_value` / `_ahash_value` / `_vhash_value` /
    `_thash_value`, the last a 56-bit SimHash so every band of the
    shared join carries entropy) into a SINGLE `banded_hamming_pairs`
    join grouped by modality — the one-call user story over a mixed
    media lake.  The oracle recomputes all four fingerprint families
    from arithmetic alone (each single-modality derivation filtered to
    its (d div 8) % 4 class; the text branch rebuilds words ->
    shingles -> 56 majority-vote bits) and ALL pairs naively, so the
    sniffer's dispatch, every decode path, and banding completeness
    per modality are all on the hook; a grouping bug that pairs across
    modalities fails the row count."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        generate_media_neardup_fixture,
        media_fingerprints,
    )
    from swisscourtrulingcorpus_spark.operators.dedup import (
        banded_hamming_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fp = media_fingerprints(generate_media_neardup_fixture(docs)).where(
        F.col("fp").isNotNull()
    )
    return banded_hamming_pairs(fp, "fp", group_cols=("modality",))


# the per-modality fingerprint derivations (each single-modality
# oracle verbatim, filtered to its (d div 8) % 4 class, plus the
# 56-bit text SimHash), shared by the batch composition oracle and
# the incremental probe oracle
_TX_VOTES = ",\n         ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(56)
)
_TX_SIG = "\n       + ".join(
    f"CASE WHEN v{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    for b in range(56)
)
_TEXT_FP_CTES = f"""t_ids AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents WHERE (doc_id // 8) % 4 = 3),
t_base AS (
  SELECT d, i.i, substr(md5('tx|' || (d // 32) || '|' || i.i), 1, 6) AS w
  FROM t_ids, unnest(generate_series(0, 39)) AS i(i)),
t_pert AS (
  SELECT d, j, (d * 11 + 7 * j) % 40 AS p
  FROM (SELECT d, unnest(generate_series(0, d % 4 - 1)) AS j
        FROM t_ids WHERE d % 4 > 0)),
t_words AS (
  SELECT b.d, b.i,
         CASE WHEN p.j IS NOT NULL THEN substr(md5('tp|' || b.d || '|' || p.j), 1, 6)
              ELSE b.w END AS w
  FROM t_base b LEFT JOIN t_pert p ON p.d = b.d AND p.p = b.i),
t_sh AS (
  SELECT DISTINCT a.d, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM t_words a
  JOIN t_words b ON b.d = a.d AND b.i = a.i + 1
  JOIN t_words c ON c.d = a.d AND c.i = a.i + 2),
t_h AS (
  SELECT d, CAST(('0x' || substr(md5('sim|' || shingle), 1, 14))::UBIGINT AS BIGINT) AS h
  FROM t_sh),
t_votes AS (SELECT d, {_TX_VOTES} FROM t_h GROUP BY d),
t_fp AS (SELECT d, {_TX_SIG} AS h FROM t_votes),"""

_MEDIA_FP_CTES = f"""
i_ids AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents WHERE (doc_id // 8) % 4 = 0),
i_grid AS (
  SELECT d, yy.y, xx.x,
         CAST(('0x' || substr(md5('dh|' || (d // 32) || '|' || xx.x || '|' || yy.y), 1, 2))::UBIGINT AS BIGINT) AS base
  FROM i_ids, unnest(generate_series(0, 6)) AS yy(y),
       unnest(generate_series(0, 8)) AS xx(x)),
i_pert AS (
  SELECT d, j, (d * 13 + 29 * j) % 63 AS p
  FROM (SELECT d, unnest(generate_series(0, d % 4 - 1)) AS j
        FROM i_ids WHERE d % 4 > 0)),
i_px AS (
  SELECT g.d, g.y, g.x,
         CASE WHEN p.j IS NOT NULL THEN (g.base + 96 + 17 * p.j) % 256
              ELSE g.base END AS v
  FROM i_grid g LEFT JOIN i_pert p ON p.d = g.d AND p.p = g.y * 9 + g.x),
i_bits AS (
  SELECT a.d, a.y AS r, a.x AS c,
         CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
  FROM i_px a JOIN i_px b ON b.d = a.d AND b.y = a.y AND b.x = a.x + 1
  WHERE a.x < 8),
i_fp AS (
  SELECT d, CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(r * 8 + c AS INTEGER))) AS BIGINT) AS h
  FROM i_bits GROUP BY d),
a_ids AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents WHERE (doc_id // 8) % 4 = 1),
a_base AS (
  SELECT d, w.w,
         CAST(('0x' || substr(md5('au|' || (d // 32) || '|' || w.w), 1, 4))::UBIGINT AS BIGINT) % 32768 AS v
  FROM a_ids, unnest(generate_series(0, 56)) AS w(w)),
a_pert AS (
  SELECT d, (d * 7 + 11 * m) % 57 AS w
  FROM (SELECT d, unnest(generate_series(0, d % 4 - 1)) AS m
        FROM a_ids WHERE d % 4 > 0)),
a_env AS (
  SELECT b.d, b.w,
         CASE WHEN p.w IS NOT NULL THEN (b.v + 4096) % 32768 ELSE b.v END AS e
  FROM a_base b LEFT JOIN a_pert p ON p.d = b.d AND p.w = b.w),
a_bits AS (
  SELECT a.d, a.w AS j, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
  FROM a_env a JOIN a_env b ON b.d = a.d AND b.w = a.w + 1
  WHERE a.w < 56),
a_fp AS (
  SELECT d, CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(j AS INTEGER))) AS BIGINT) AS h
  FROM a_bits GROUP BY d),
v_ids AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents WHERE (doc_id // 8) % 4 = 2),
v_base AS (
  SELECT d, f.f,
         CAST(('0x' || substr(md5('vi|' || (d // 32) || '|' || f.f), 1, 2))::UBIGINT AS BIGINT) AS v
  FROM v_ids, unnest(generate_series(0, 56)) AS f(f)),
v_pert AS (
  SELECT d, (d * 7 + 11 * m) % 57 AS f
  FROM (SELECT d, unnest(generate_series(0, d % 4 - 1)) AS m
        FROM v_ids WHERE d % 4 > 0)),
v_env AS (
  SELECT b.d, b.f,
         CASE WHEN p.f IS NOT NULL THEN (b.v + 96) % 256 ELSE b.v END AS v
  FROM v_base b LEFT JOIN v_pert p ON p.d = b.d AND p.f = b.f),
v_bits AS (
  SELECT a.d, a.f AS j, CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
  FROM v_env a JOIN v_env b ON b.d = a.d AND b.f = a.f + 1
  WHERE a.f < 56),
v_fp AS (
  SELECT d, CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(j AS INTEGER))) AS BIGINT) AS h
  FROM v_bits GROUP BY d),
{_TEXT_FP_CTES}
allfp AS (
  SELECT 'image' AS modality, d, h FROM i_fp
  UNION ALL SELECT 'audio' AS modality, d, h FROM a_fp
  UNION ALL SELECT 'video' AS modality, d, h FROM v_fp
  UNION ALL SELECT 'text' AS modality, d, h FROM t_fp)
"""

MEDIA_NEARDUP_ORACLE = f"""WITH
{_MEDIA_FP_CTES}
SELECT a.modality, a.d AS doc_a, b.d AS doc_b,
       CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
FROM allfp a JOIN allfp b ON a.modality = b.modality AND a.d < b.d
WHERE bit_count(xor(a.h, b.h)) <= 3
"""

INCREMENTAL_MEDIA_ORACLE = f"""WITH
{_MEDIA_FP_CTES}
SELECT a.modality, a.d AS doc_a, b.d AS doc_b,
       CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
FROM allfp a JOIN allfp b ON a.modality = b.modality
WHERE a.d % 2 = 1 AND b.d % 2 = 0
  AND bit_count(xor(a.h, b.h)) <= 3
"""


def incremental_media_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming fingerprint-registry PROBE stage value-checked
    (the `near_contamination_check` gate style): even doc_ids are the
    accumulated registry, odd doc_ids the arriving micro-batch — the
    batch decodes through the unified router and probes the registry
    with the asymmetric banded-hamming lookup (`operators/dedup.py::
    banded_hamming_probe`, grouped by modality), exactly what
    `streaming/jobs.py::media_fingerprint_maintenance_batch` runs per
    trigger.  The oracle recomputes all four fingerprint families
    from arithmetic and ALL odd-vs-even pairs naively, so dropped
    probe candidates fail the row count."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        generate_media_neardup_fixture,
        media_fingerprints,
    )
    from swisscourtrulingcorpus_spark.operators.dedup import (
        banded_hamming_probe,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fp = media_fingerprints(generate_media_neardup_fixture(docs)).where(
        F.col("fp").isNotNull()
    )
    return banded_hamming_probe(
        fp.where(F.col("doc_id") % 2 == 1),
        fp.where(F.col("doc_id") % 2 == 0),
        "fp",
        group_cols=("modality",),
    )


def video_fingerprint_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate VIDEO detection end-to-end: real AVI
    decode -> temporal brightness-envelope hash
    (`extraction/multimodal.py::video_brightness_fingerprints`) -> the
    shared `banded_hamming_pairs` join — multimodal dedup now covers
    all four modalities (text MinHash/SimHash, image dHash, audio
    energy envelope, video temporal envelope).  The oracle recomputes
    every brightness level, hash bit and ALL pairs from arithmetic."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        generate_video_neardup_fixture,
        video_brightness_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fp = video_brightness_fingerprints(
        generate_video_neardup_fixture(docs)
    ).where(F.col("vhash").isNotNull())
    return _banded_hamming_pairs(fp, "vhash")


VIDEO_FP_ORACLE = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents),
base AS (
  SELECT d, f.f,
         CAST(('0x' || substr(md5('vi|' || (d // 32) || '|' || f.f), 1, 2))::UBIGINT AS BIGINT) AS v
  FROM ids, unnest(generate_series(0, 56)) AS f(f)),
pert AS (
  SELECT d, (d * 7 + 11 * m) % 57 AS f
  FROM (SELECT d, unnest(generate_series(0, d % 4 - 1)) AS m
        FROM ids WHERE d % 4 > 0)),
-- frame brightness = 36 * v (flat 4x3 RGB frames); adjacent
-- comparisons are therefore comparisons of v directly
env AS (
  SELECT b.d, b.f,
         CASE WHEN p.f IS NOT NULL THEN (b.v + 96) % 256 ELSE b.v END AS v
  FROM base b LEFT JOIN pert p ON p.d = b.d AND p.f = b.f),
bits AS (
  SELECT a.d, a.f AS j, CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
  FROM env a JOIN env b ON b.d = a.d AND b.f = a.f + 1
  WHERE a.f < 56),
fp AS (
  SELECT d, CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(j AS INTEGER))) AS BIGINT) AS vhash
  FROM bits GROUP BY d)
SELECT a.d AS doc_a, b.d AS doc_b,
       CAST(bit_count(xor(a.vhash, b.vhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.d < b.d
WHERE bit_count(xor(a.vhash, b.vhash)) <= 3
"""


AUDIO_FP_ORACLE = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents),
base AS (
  SELECT d, w.w,
         CAST(('0x' || substr(md5('au|' || (d // 32) || '|' || w.w), 1, 4))::UBIGINT AS BIGINT) % 32768 AS v
  FROM ids, unnest(generate_series(0, 56)) AS w(w)),
pert AS (
  SELECT d, (d * 7 + 11 * m) % 57 AS w
  FROM (SELECT d, unnest(generate_series(0, d % 4 - 1)) AS m
        FROM ids WHERE d % 4 > 0)),
-- window energy = 16 * v (flat windows); adjacent comparisons are
-- therefore comparisons of v directly
env AS (
  SELECT b.d, b.w,
         CASE WHEN p.w IS NOT NULL THEN (b.v + 4096) % 32768 ELSE b.v END AS e
  FROM base b LEFT JOIN pert p ON p.d = b.d AND p.w = b.w),
bits AS (
  SELECT a.d, a.w AS j, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
  FROM env a JOIN env b ON b.d = a.d AND b.w = a.w + 1
  WHERE a.w < 56),
fp AS (
  SELECT d, CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(j AS INTEGER))) AS BIGINT) AS ahash
  FROM bits GROUP BY d)
SELECT a.d AS doc_a, b.d AS doc_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.d < b.d
WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
"""


# 89-entry IMA step-size table + the index-advance rule (public IMA/DVI
# spec constants).  The recurrence below IS the encoder+decoder
# composition: at block headers (i % 21 == 0) the predictor resets to
# the raw sample (stored verbatim) while the step index carries over;
# elsewhere the greedy quantizer picks the nibble and the decoder-side
# update produces the emitted sample.
_IMA_STEP_LIST = (
    "[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,"
    "41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,"
    "190,209,230,253,279,307,337,371,408,449,494,544,598,658,"
    "724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,"
    "2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,"
    "6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,"
    "16818,18500,20350,22385,24623,27086,29794,32767]"
)

ADPCM_DECODE_ORACLE = f"""
WITH RECURSIVE
stepv AS (SELECT {_IMA_STEP_LIST} AS st),
ids AS (SELECT CAST(doc_id AS BIGINT) AS d,
               CAST(doc_id % 60 + 20 AS BIGINT) AS n
        FROM documents),
dec AS (
  SELECT d, n, CAST(0 AS BIGINT) AS i,
         CAST(((d * 31) % 65536) - 32768 AS BIGINT) AS pred,
         CAST(0 AS BIGINT) AS idx
  FROM ids
  UNION ALL
  SELECT d, n, i,
         CASE WHEN is_hdr THEN s
              ELSE greatest(-32768, least(32767,
                pred + CASE WHEN neg THEN -ddiff ELSE ddiff END))
         END AS pred,
         CASE WHEN is_hdr THEN idx
              ELSE greatest(0, least(88,
                idx + CASE WHEN b4
                           THEN 2 + 4 * CAST(b2 AS BIGINT) + 2 * CAST(b1 AS BIGINT)
                           ELSE -1 END))
         END AS idx
  FROM (
    SELECT *, stp // 8
             + CASE WHEN b1 THEN stp // 4 ELSE 0 END
             + CASE WHEN b2 THEN stp // 2 ELSE 0 END
             + CASE WHEN b4 THEN stp ELSE 0 END AS ddiff
    FROM (
      SELECT *, mag2 >= stp // 4 AS b1
      FROM (
        SELECT *, mag1 >= stp // 2 AS b2,
               mag1 - CASE WHEN mag1 >= stp // 2 THEN stp // 2 ELSE 0 END AS mag2
        FROM (
          SELECT *, mag >= stp AS b4,
                 mag - CASE WHEN mag >= stp THEN stp ELSE 0 END AS mag1
          FROM (
            SELECT *, s - pred < 0 AS neg, abs(s - pred) AS mag,
                   i % 21 = 0 AS is_hdr
            FROM (
              SELECT d, n, i + 1 AS i, pred, idx,
                     ((d * 31 + 7 * (i + 1)) % 65536) - 32768 AS s,
                     list_extract(st, CAST(idx + 1 AS INTEGER)) AS stp
              FROM dec, stepv
              WHERE i + 1 < n))))))),
samples AS (
  -- every decoded sample: block headers emit the verbatim predictor,
  -- data positions emit the stepped predictor — EXCEPT a header that
  -- is the final sample of the stream (a 4-byte header-only tail
  -- block, which the decoder drops as padding)
  SELECT d, pred AS v FROM dec WHERE NOT (i = n - 1 AND i % 21 = 0)
  UNION ALL
  -- odd tail-nibble pad: when the last block holds an even 2..20
  -- samples, its (r-1) nibbles are odd and the encoder pads a zero
  -- nibble, which the decoder expands into ONE extra sample
  SELECT d, greatest(-32768, least(32767,
         pred + list_extract(st, CAST(idx + 1 AS INTEGER)) // 8)) AS v
  FROM dec, stepv
  WHERE i = n - 1 AND n % 21 >= 2 AND (n % 21) % 2 = 0)
SELECT d AS doc_id, 'wav' AS fmt,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS channels,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(count(*) * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(sum(v) AS BIGINT) AS amp_sum,
       CAST(min(v) AS BIGINT) AS amp_min,
       CAST(max(v) AS BIGINT) AS amp_max
FROM samples GROUP BY d
"""


SPECS = [
    QuerySpec("json_props_stats", json_props_stats, JSON_PROPS_ORACLE, "JSON extraction"),
    QuerySpec("sampled_verification_docs", sampled_verification_docs, SAMPLED_VERIFICATION_ORACLE, "W4 seeded sample"),
    QuerySpec("regex_predicate_documents", regex_predicate_documents, REGEX_PREDICATE_ORACLE, "P6 regex filter"),
    QuerySpec("token_counter_levels", token_counter_levels, TOKEN_COUNTER_ORACLE, "A4/F14 counter ladder"),
    QuerySpec("multimodal_features", multimodal_features, MULTIMODAL_ORACLE, "binary+mapInPandas"),
    QuerySpec("multimodal_frame_sample", multimodal_frame_sample, FRAME_SAMPLE_ORACLE, "1→N frame fan-out"),
    QuerySpec("hourly_spine_gap_fill", hourly_spine_gap_fill, SPINE_ORACLE, "date-spine densify"),
    QuerySpec("unpivot_doc_stats", unpivot_doc_stats, UNPIVOT_ORACLE, "wide→long melt"),
    QuerySpec("uuid5_document_ids", uuid5_document_ids, UUID5_ORACLE, "UUIDv5 ids vs precomputed fixture"),
    QuerySpec("png_decode_stats", png_decode_stats, PNG_DECODE_ORACLE, "real PNG/BMP decode vs arithmetic oracle"),
    QuerySpec("image_resize_stats", image_resize_stats, IMAGE_RESIZE_ORACLE, "real decode -> 2x box resize -> BMP re-encode round trip"),
    QuerySpec("mjpg_frame_sample_stats", mjpg_frame_sample_stats, MJPG_FRAME_ORACLE, "Motion-JPEG frame sampling via the shared baseline JPEG decoder"),
    QuerySpec("progressive_jpeg_decode_stats", progressive_jpeg_decode_stats, JPEG_DECODE_ORACLE, "progressive (SOF2) decode twin of jpeg_decode_stats, same oracle"),
    QuerySpec("gif_frame_sample_stats", gif_frame_sample_stats, GIF_FRAME_ORACLE, "animated GIF LZW decode: per-frame palette-index + RGB sums"),
    QuerySpec("media_router_stats", media_router_stats, MEDIA_ROUTER_ORACLE, "heterogeneous binary column routed to 4 real decoders by sniffing"),
    QuerySpec("g711_decode_stats", g711_decode_stats, G711_DECODE_ORACLE, "compressed telephony audio: G.711 mu/A-law expansion, ITU formulas"),
    QuerySpec("adpcm_decode_stats", adpcm_decode_stats, ADPCM_DECODE_ORACLE, "stateful IMA ADPCM block decode vs recursive-CTE recurrence oracle"),
    QuerySpec("image_dhash_neardup_pairs", image_dhash_neardup_pairs, IMAGE_DHASH_ORACLE, "perceptual dHash near-dup images: real decode, banded hamming join"),
    QuerySpec("audio_fingerprint_neardup_pairs", audio_fingerprint_neardup_pairs, AUDIO_FP_ORACLE, "perceptual near-dup audio: real PCM decode, energy-envelope hash"),
    QuerySpec("video_fingerprint_neardup_pairs", video_fingerprint_neardup_pairs, VIDEO_FP_ORACLE, "perceptual near-dup video: real AVI decode, temporal brightness envelope"),
    QuerySpec("media_neardup_pairs", media_neardup_pairs, MEDIA_NEARDUP_ORACLE, "heterogeneous media lake: sniff -> per-modality fingerprint -> one grouped banded-hamming join"),
    QuerySpec("incremental_media_neardup", incremental_media_neardup, INCREMENTAL_MEDIA_ORACLE, "streaming registry probe: arriving batch vs accumulated fingerprints, asymmetric banded lookup"),
    QuerySpec("jpeg_decode_stats", jpeg_decode_stats, JPEG_DECODE_ORACLE, "real baseline-JPEG decode vs arithmetic oracle"),
    QuerySpec("bpe_merges_corpus", bpe_merges_corpus, BPE_MERGES_ORACLE, "distributed BPE trainer vs independent frozen reference"),
    QuerySpec("bpe_encode_documents", bpe_encode_documents, BPE_ENCODE_ORACLE, "Arrow BPE encode vs frozen fixture"),
    QuerySpec("mixed_image_decode_stats", mixed_image_decode_stats, MIXED_IMAGE_ORACLE, "mixed PNG/BMP/JPEG/undecodable corpus through one decode scan"),
    QuerySpec("wav_decode_stats", wav_decode_stats, WAV_DECODE_ORACLE, "real 16-bit PCM WAV decode vs arithmetic oracle"),
    QuerySpec("avi_frame_sample_stats", avi_frame_sample_stats, AVI_FRAME_ORACLE, "real AVI frame sampling (stride 2) vs arithmetic oracle"),
    QuerySpec("audio_frame_energy_windows", audio_frame_energy_windows, AUDIO_ENERGY_ORACLE, "windowed audio energy fan-out vs arithmetic oracle"),
]


# --- Unigram-LM (SentencePiece-style) segmentation ---------------------

_UG_P = 6     # max piece length
_UG_V = 500   # substring vocabulary size (chars always retained)
_UG_W = 12    # max word length the DP chains over


def unigram_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-initialized unigram-LM segmentation
    (`operators/unigram.py`): the SentencePiece family's init + exact
    Viterbi, the second trained-in-engine tokenizer next to BPE.  Per
    distinct word: the minimal total piece cost (micro-int -log-probs)
    and the piece count, DP state packed into one bigint so the
    (cheapest, fewest-pieces) tie-break is a single min on BOTH
    engines."""
    from swisscourtrulingcorpus_spark.operators.unigram import (
        unigram_segment_words,
    )

    docs = load_table(spark, sf_dir, "documents")
    return unigram_segment_words(docs, "text", _UG_P, _UG_V, _UG_W)


def _unigram_ctes() -> str:
    """The shared WITH-prefix of both unigram oracles: corpus words ->
    substring vocab (scores) -> the full MATERIALIZED DP chain through
    ball{max_word_len}.  Each oracle appends its own final SELECT —
    composition from parts, not string surgery on rendered SQL."""
    steps = []
    for j in range(1, _UG_W + 1):
        lo = max(0, j - _UG_P)
        steps.append(
            f"b{j} AS (\n"
            f"  SELECT f.w, {j} AS pos, min(f.key + v.pcost * 64 + 1) AS key\n"
            f"  FROM ball{j - 1} f JOIN vocab v\n"
            f"    ON v.piece = substr(f.w, f.pos + 1, {j} - f.pos)\n"
            f"  WHERE f.pos >= {lo} AND f.pos <= {j - 1} AND len(f.w) >= {j}\n"
            f"  GROUP BY f.w),\n"
            f"ball{j} AS MATERIALIZED (SELECT * FROM ball{j - 1} UNION ALL SELECT * FROM b{j})"
        )
    chain = ",\n".join(steps)
    return f"""
WITH toks AS (
  SELECT unnest({_words_duck("text")}) AS w
  FROM documents),
fwords AS (
  SELECT w, count(*) AS freq FROM toks
  WHERE len(w) BETWEEN 1 AND {_UG_W} GROUP BY w),
starts AS (
  SELECT w, freq, unnest(generate_series(1, len(w))) AS s FROM fwords),
pieces AS (
  SELECT substr(w, s, l) AS piece, freq
  FROM (SELECT w, freq, s,
               unnest(generate_series(1, least({_UG_P}, len(w) - s + 1))) AS l
        FROM starts)),
cnts AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM pieces GROUP BY 1),
ranked AS (
  SELECT piece, cnt,
         row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk
  FROM cnts),
kept AS (SELECT piece, cnt FROM ranked WHERE len(piece) = 1 OR rk <= {_UG_V}),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM kept),
vocab AS MATERIALIZED (
  SELECT piece,
         -CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS pcost
  FROM kept, tot),
dwords AS (SELECT DISTINCT w FROM fwords),
ball0 AS MATERIALIZED (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS key FROM dwords),
{chain}"""


def _unigram_oracle() -> str:
    return (
        _unigram_ctes()
        + f"""
SELECT b.w AS word,
       CAST(b.key % 64 AS BIGINT) AS n_pieces,
       b.key // 64 AS cost_micro
FROM ball{_UG_W} b
WHERE b.pos = len(b.w)
"""
    )


SPECS += [
    QuerySpec(
        "unigram_segmentation",
        unigram_segmentation,
        _unigram_oracle(),
        "unigram-LM Viterbi segmentation, packed-int DP, second tokenizer",
    ),
]


# --- WordPiece: greedy longest-match (third tokenizer family) ----------

_WP_P, _WP_V, _WP_W = 6, 300, 12


def wordpiece_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match segmentation
    (`operators/wordpiece.py`) — the BERT-family tokenizer, completing
    the trained-in-engine triad (BPE merges / unigram Viterbi /
    WordPiece greedy).  Per distinct word: piece count and the exact
    rendered segmentation ('tab ##le' form), so a greedy-order or
    position-class bug anywhere flips the string hash."""
    from swisscourtrulingcorpus_spark.operators.wordpiece import (
        wordpiece_segment_words,
    )

    docs = load_table(spark, sf_dir, "documents")
    return wordpiece_segment_words(docs, "text", _WP_P, _WP_V, _WP_W)


def _wordpiece_ctes() -> str:
    """Shared WITH-prefix of both WordPiece oracles (the `_unigram_ctes`
    convention): vocab build + the iterative greedy chain
    g0..g{max_word_len}, where round j advances every unfinished word
    by its longest in-class piece, finalizing [UNK] rows on no-match."""
    steps = []
    for j in range(1, _WP_W + 1):
        steps.append(
            f"""c{j} AS (
  SELECT w, pos, n, segs,
         unnest(generate_series(1, least({_WP_P}, len(w) - pos))) AS l
  FROM g{j - 1} WHERE pos < len(w)),
m{j} AS (
  SELECT c.w, c.pos, c.n, c.segs, max(c.l) AS L
  FROM c{j} c JOIN vocab v
    ON v.piece = substr(c.w, c.pos + 1, c.l) AND v.is_cont = (c.pos > 0)
  GROUP BY 1, 2, 3, 4),
unk{j} AS (
  SELECT f.w, len(f.w) AS pos, CAST(1 AS BIGINT) AS n, '[UNK]' AS segs
  FROM g{j - 1} f
  WHERE f.pos < len(f.w)
    AND NOT EXISTS (SELECT 1 FROM m{j} m WHERE m.w = f.w AND m.pos = f.pos)),
g{j} AS MATERIALIZED (
  SELECT w, pos, n, segs FROM g{j - 1} WHERE pos >= len(w)
  UNION ALL
  SELECT w, pos + L AS pos, n + 1 AS n,
         segs || CASE WHEN pos > 0 THEN ' ##' ELSE '' END
              || substr(w, pos + 1, L) AS segs
  FROM m{j}
  UNION ALL
  SELECT w, pos, n, segs FROM unk{j})"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH toks AS (
  SELECT unnest({_words_duck("text")}) AS w
  FROM documents),
fwords AS (
  SELECT w, count(*) AS freq FROM toks
  WHERE len(w) BETWEEN 1 AND {_WP_W} GROUP BY w),
starts AS (
  SELECT w, freq, unnest(generate_series(1, len(w))) AS s FROM fwords),
pieces AS (
  SELECT substr(w, s, l) AS piece, s > 1 AS is_cont, freq
  FROM (SELECT w, freq, s,
               unnest(generate_series(1, least({_WP_P}, len(w) - s + 1))) AS l
        FROM starts)),
cnts AS (SELECT piece, is_cont, CAST(sum(freq) AS BIGINT) AS cnt
         FROM pieces GROUP BY 1, 2),
ranked AS (
  SELECT piece, is_cont, cnt,
         row_number() OVER (PARTITION BY is_cont ORDER BY cnt DESC, piece ASC) AS rk
  FROM cnts),
vocab AS MATERIALIZED (
  SELECT piece, is_cont FROM ranked WHERE len(piece) = 1 OR rk <= {_WP_V}),
g0 AS MATERIALIZED (
  SELECT DISTINCT w, 0 AS pos, CAST(0 AS BIGINT) AS n, '' AS segs FROM fwords),
{chain}"""


def _wordpiece_oracle() -> str:
    return (
        _wordpiece_ctes()
        + f"""
SELECT w AS word, CAST(n AS BIGINT) AS n_pieces, segs AS segmentation
FROM g{_WP_W}
"""
    )


SPECS += [
    QuerySpec(
        "wordpiece_segmentation",
        wordpiece_segmentation,
        _wordpiece_oracle(),
        "WordPiece greedy longest-match, two-class vocab, third tokenizer",
    ),
]


def wordpiece_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WordPiece tokenizer APPLIED to the corpus (the
    `unigram_token_counts` twin): per document, word count, total piece
    count, and how many word occurrences collapsed to [UNK] — one
    broadcast join of the distinct-word segmentation table back to the
    exploded corpus; words longer than the greedy depth are excluded on
    both engines."""
    from swisscourtrulingcorpus_spark.operators.wordpiece import (
        wordpiece_segment_words,
    )

    docs = load_table(spark, sf_dir, "documents")
    seg = wordpiece_segment_words(docs, "text", _WP_P, _WP_V, _WP_W)
    occ = docs.select(
        "doc_id",
        F.expr(f"explode({words_sql('text')})").alias("word"),
    ).where((F.length("word") >= 1) & (F.length("word") <= _WP_W))
    return (
        occ.join(F.broadcast(seg), on="word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
            F.sum(
                (F.col("segmentation") == "[UNK]").cast("long")
            ).alias("n_unk_words"),
        )
    )


def _wordpiece_counts_oracle() -> str:
    return (
        _wordpiece_ctes()
        + f""",
seg AS MATERIALIZED (
  SELECT w AS word, CAST(n AS BIGINT) AS n_pieces,
         CAST(segs = '[UNK]' AS BIGINT) AS is_unk
  FROM g{_WP_W}),
occ AS (
  SELECT doc_id,
         unnest({_words_duck("text")}) AS word
  FROM documents)
SELECT o.doc_id,
       count(*) AS n_words,
       CAST(sum(s.n_pieces) AS BIGINT) AS n_pieces,
       CAST(sum(s.is_unk) AS BIGINT) AS n_unk_words
FROM occ o JOIN seg s USING (word)
WHERE len(o.word) BETWEEN 1 AND {_WP_W}
GROUP BY 1
"""
    )


SPECS += [
    QuerySpec(
        "wordpiece_token_counts",
        wordpiece_token_counts,
        _wordpiece_counts_oracle(),
        "WordPiece applied per document: word/piece/UNK counts",
    ),
]


def unigram_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer APPLIED to the corpus: per document, the total
    unigram-piece count and total segmentation cost — sum over word
    occurrences of the per-word Viterbi results (one broadcast join of
    the distinct-word segmentation table back to the exploded corpus,
    the standard apply-tokenizer shape; words longer than the DP depth
    are excluded on both engines)."""
    from swisscourtrulingcorpus_spark.operators.unigram import (
        unigram_segment_words,
    )

    docs = load_table(spark, sf_dir, "documents")
    seg = unigram_segment_words(docs, "text", _UG_P, _UG_V, _UG_W)
    occ = docs.select(
        "doc_id",
        F.expr(f"explode({words_sql('text')})").alias("word"),
    ).where((F.length("word") >= 1) & (F.length("word") <= _UG_W))
    return (
        occ.join(F.broadcast(seg), on="word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
            F.sum("cost_micro").alias("cost_micro"),
        )
    )


def _unigram_counts_oracle() -> str:
    return (
        _unigram_ctes()
        + f""",
seg AS MATERIALIZED (
  SELECT b.w AS word,
         CAST(b.key % 64 AS BIGINT) AS n_pieces,
         b.key // 64 AS cost_micro
  FROM ball{_UG_W} b
  WHERE b.pos = len(b.w)),
occ AS (
  SELECT doc_id,
         unnest({_words_duck("text")}) AS word
  FROM documents)
SELECT o.doc_id,
       count(*) AS n_words,
       CAST(sum(s.n_pieces) AS BIGINT) AS n_pieces,
       CAST(sum(s.cost_micro) AS BIGINT) AS cost_micro
FROM occ o JOIN seg s USING (word)
WHERE len(o.word) BETWEEN 1 AND {_UG_W}
GROUP BY 1
"""
    )


SPECS += [
    QuerySpec(
        "unigram_token_counts",
        unigram_token_counts,
        _unigram_counts_oracle(),
        "unigram tokenizer applied per document, exact piece/cost sums",
    ),
]
