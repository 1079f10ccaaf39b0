"""Multimodal columns: opaque binary payloads + typed metadata.

Design (per the 100 TB training-pipeline brief): media lives as
``binary`` columns (or object-store URIs) with a typed metadata struct
alongside; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages so bytes never leave the executor
and batch size bounds memory.

PNG (8-bit non-interlaced), BMP (24-bit uncompressed), baseline
sequential JPEG, 16-bit PCM WAV and uncompressed-DIB AVI decode FOR
REAL via the pure-stdlib codecs in `extraction/imagecodec.py`,
`jpegcodec.py`, `audiocodec.py` and `videocodec.py` —
``decode_image_features`` / ``decode_audio_features`` /
``sample_video_frames`` are the mapInPandas stages over them, pulling
actual pixel/sample statistics out of the payload bytes.  Codecs that
genuinely need native libraries (progressive/arithmetic JPEG,
MP3/AAC audio, MJPG/H.264 video) raise Unsupported*Error and fall back
to the byte-stat stub (``decode_image_stub``) with the same scheduling
shape.  Everything Spark-side — schema, UDF signature, Arrow batch
shape, partitioning — is real and tested either way.

The pass-through contract, shared by every payload stage: one bad row
never kills the task.  A NULL payload (the most common bad row of a
nullable binary column), a format the stage does not handle, and a
payload its codec rejects (truncated, corrupt, or a variant needing a
native library) each come out as exactly ONE row with null stats —
labelled ``missing`` / ``other`` / ``<fmt>_undecodable`` by the decode
stages (`_decoded_rows`), a null fingerprint in the hash stages — so
per-doc accounting never drops a doc_id and downstream can route the
bad rows to the byte-stat stub.

Every payload stage is one `_payload_stage` over a per-row function
and every fixture one `_payload_fixture` over a per-id payload
formula; `_sniff` is the module's only magic-byte test.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from swisscourtrulingcorpus_spark.extraction.audiocodec import (
    UnsupportedAudioError,
    decode_wav,
    encode_wav,
    encode_wav_adpcm,
    encode_wav_g711,
)
from swisscourtrulingcorpus_spark.extraction.gifcodec import (
    UnsupportedGifError,
    decode_gif,
    encode_gif,
    frame_rgb,
)
from swisscourtrulingcorpus_spark.extraction.imagecodec import (
    UnsupportedImageError,
    decode_image,
    encode_bmp24,
    encode_png,
)
from swisscourtrulingcorpus_spark.extraction.jpegcodec import (
    encode_jpeg_gray,
    encode_jpeg_gray_progressive,
)
from swisscourtrulingcorpus_spark.extraction.videocodec import (
    UnsupportedVideoError,
    decode_avi,
    encode_avi,
    encode_avi_mjpg,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("checksum", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

PAYLOAD_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
)

_IMAGE_FMTS = ("png", "bmp", "jpeg", "gif")


def _sniff(payload: bytes) -> str:
    """The module's one magic-byte test: ``png`` / ``bmp`` / ``jpeg`` /
    ``gif`` / ``wav`` / ``avi``, else ``other``.  The prefixes are
    disjoint, so each stage keeps only its own format -> action map;
    the codecs still validate their headers (they parse outside
    input)."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:2] == b"\xff\xd8":
        return "jpeg"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:4] == b"RIFF":
        return {b"WAVE": "wav", b"AVI ": "avi"}.get(payload[8:12], "other")
    return "other"


def _payload_stage(media: DataFrame, schema: StructType, rows_of) -> DataFrame:
    """The one mapInPandas over (doc_id, payload): ``rows_of(doc_id,
    payload) -> list[dict]`` per row, one frame per non-empty Arrow
    batch.  The UDF carries ``rows_of``'s name, which is what the
    optimized plan prints — gates that differ only in their per-row
    function stay apart in the plan fingerprints and the registry
    duplicate lint."""

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                r
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
                for r in rows_of(doc_id, payload)
            ]
            if rows:
                # object columns: a None next to ints would otherwise
                # make the column float64 and round every 56-64-bit
                # fingerprint above 2^53 in the batch
                yield pd.DataFrame(rows, dtype=object)

    stage.__name__ = rows_of.__name__
    return media.mapInPandas(stage, schema)


def _payload_fixture(df: DataFrame, id_col: str, payload_of) -> DataFrame:
    """(doc_id, payload) fixture: ``payload_of(d: int) -> bytes`` per
    id, the one fixture mapInPandas (UDF named after ``payload_of``).

    The slim bigint id projection is SPREAD across the session's
    parallelism when the source scan has fewer partitions than cores
    (r11 optimization, guide §2.5 stragglers): the bench fixtures are
    single-row-group parquet, so the scan arrives as ONE partition and
    the whole encode→decode Python chain would serialize on one core
    while the rest idle (measured: jpeg/mjpg gates ran (0+1)/1
    single-task).  The repartition moves only the 8-byte ids — the
    expensive payloads are generated AFTER the exchange, on all cores.
    Scale-adaptive, not a local constant: a real many-file corpus
    already scans with ≥ cores partitions and keeps its layout (no
    added shuffle); only an under-parallel input is spread, and only up
    to ``defaultParallelism``, which tracks the cluster width."""
    ids = df.select(F.col(id_col).cast("long").alias("doc_id"))
    target = ids.sparkSession.sparkContext.defaultParallelism
    if ids.rdd.getNumPartitions() < target:
        ids = ids.repartition(target)

    def fixture(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                payloads = [payload_of(int(d)) for d in pdf["doc_id"]]
                yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    fixture.__name__ = payload_of.__name__
    return ids.mapInPandas(fixture, PAYLOAD_SCHEMA)


def _decoded_rows(doc_id, payload, schema: StructType, fmts, decode, body) -> list[dict]:
    """The decode stages' pass-through contract (module docstring) in
    ONE place: NULL payload → one 'missing' row; a sniffed format
    outside ``fmts`` → one 'other' row; a codec ``Unsupported*Error`` →
    one '<fmt>_undecodable' row; otherwise ``body(fmt,
    decode(payload))``'s rows.  Every row starts as ``schema``'s nulls,
    so a body row sets only its stats — ``{}`` is a stage's own
    accounting row, and a 'fmt' key relabels it (resize's
    '<fmt>_tiny').  The body's rows are built in full before any is
    returned: a failure on frame k never leaves frames 0..k-1 next to
    the null-stat row (one bad payload = exactly one row; r06
    review)."""

    def row(fmt: str, stats: dict | None = None) -> dict:
        return {**dict.fromkeys(schema.fieldNames()), "doc_id": doc_id, "fmt": fmt, **(stats or {})}

    if payload is None:
        return [row("missing")]
    payload = bytes(payload)
    fmt = _sniff(payload)
    if fmt not in fmts:
        return [row("other")]
    try:
        return [row(fmt, r) for r in body(fmt, decode(payload))]
    except (
        UnsupportedAudioError,
        UnsupportedGifError,
        UnsupportedImageError,
        UnsupportedVideoError,
    ):
        # a real 100 TB corpus always contains undecodable payloads
        # (progressive JPEGs, truncated files, videos mis-sniffed as
        # images); each codec translates its malformed-payload errors to
        # its Unsupported*Error, so this one clause covers them all
        return [row(f"{fmt}_undecodable")]


def attach_binary_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Fixture adapter: treat the document text's UTF-8 bytes as an
    opaque media payload with deterministic metadata (the shape a real
    ingest would produce from image/audio files)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("image/stub").alias("media_type"),
        (F.length(F.col(text_col)) % 1024).cast("int").alias("width"),
        (F.length(F.col(text_col)) % 768).cast("int").alias("height"),
    )


def decode_image_real(payload: bytes) -> dict:
    """Real decode for PNG/BMP/baseline-JPEG payloads
    (`extraction/imagecodec.py` + `extraction/jpegcodec.py`, pure
    stdlib): width/height/channels come from the headers, the pixel
    stats from the fully decoded pixel buffer.  Raises
    ``UnsupportedImageError`` for formats that need native codec
    libraries (progressive/arithmetic JPEG, video, audio) and for
    malformed payloads — callers fall back to
    ``decode_image_stub``'s byte features."""
    width, height, channels, px = decode_image(payload)
    return {
        "width": width,
        "height": height,
        "channels": channels,
        "pixel_sum": sum(px),
        "px_min": min(px) if px else None,
        "px_max": max(px) if px else None,
    }


PIXEL_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("pixel_sum", LongType()),
        StructField("px_min", LongType()),
        StructField("px_max", LongType()),
    ]
)


def _pixel_rows(doc_id, payload) -> list[dict]:
    return _decoded_rows(
        doc_id, payload, PIXEL_FEATURE_SCHEMA, _IMAGE_FMTS, decode_image_real,
        lambda fmt, feats: [feats],
    )


def _rgb_pixels(d: int, w: int, h: int, nch: int = 3) -> bytes:
    """Pixel (x, y, c) = (d + 7x + 13y + 29c) % 256, row-major — the
    arithmetic the image, mixed, router and AVI fixture oracles
    recompute."""
    return bytes(
        (d + 7 * x + 13 * y + 29 * c) % 256
        for y in range(h)
        for x in range(w)
        for c in range(nch)
    )


def _image_payload(d: int) -> bytes:
    w, h = d % 4 + 2, d % 3 + 2
    nch = 4 if (d % 2 == 0 and d % 4 == 0) else 3
    px = _rgb_pixels(d, w, h, nch)
    if d % 2 == 0:
        return encode_png(w, h, nch, px, filter_for_row=lambda y: (d + y) % 5)
    return encode_bmp24(w, h, px)


def _jpeg_grid(d: int) -> tuple[int, int, list[int]]:
    """(w, h, gray pixels) of the JPEG fixtures: sizes 4..24 × 4..16,
    pixel (x, y) = (3·d + 11·(x//8) + 17·(y//8)) % 256."""
    w, h = d % 21 + 4, d % 13 + 4
    px = [(3 * d + 11 * (x // 8) + 17 * (y // 8)) % 256 for y in range(h) for x in range(w)]
    return w, h, px


def _jpeg_payload(d: int) -> bytes:
    w, h, px = _jpeg_grid(d)
    return encode_jpeg_gray(w, h, px, restart_interval=d % 3)


def _progressive_jpeg_payload(d: int) -> bytes:
    return encode_jpeg_gray_progressive(*_jpeg_grid(d))


def generate_progressive_jpeg_fixture(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Same deterministic corpus as `generate_jpeg_fixture` but encoded
    PROGRESSIVE (SOF2, DC scan + AC band scan) — the decode gate then
    exercises the multi-scan coefficient store and
    `_assemble_progressive` instead of the baseline path, against the
    identical arithmetic oracle."""
    return _payload_fixture(df, id_col, _progressive_jpeg_payload)


def _mixed_payload(d: int) -> bytes:
    kind = d % 4
    if kind == 3:  # undecodable row: mis-sniffed "video" bytes
        return b"\x00RIFFfake-video" + bytes([d % 256]) * 8
    w, h = d % 5 + 2, d % 3 + 2
    if kind == 2:  # grayscale JPEG, constant blocks (bit-exact)
        px = [(d + 5 * (x // 8) + 9 * (y // 8)) % 256 for y in range(h) for x in range(w)]
        return encode_jpeg_gray(w, h, px)
    px3 = _rgb_pixels(d, w, h)
    if kind == 0:
        return encode_png(w, h, 3, px3, filter_for_row=lambda y: (d + y) % 5)
    return encode_bmp24(w, h, px3)


def generate_mixed_media_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """A MIXED media corpus from row ids — PNG / BMP / grayscale JPEG /
    deliberately-undecodable payload cycling by doc_id % 4 — the shape
    `decode_image_features` must survive at 100 TB: every codec
    dispatched in one scan, bad rows passing through as 'other'."""
    return _payload_fixture(df, id_col, _mixed_payload)


def generate_jpeg_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic baseline-JPEG corpus from row ids: grayscale,
    sizes 4..24 × 4..16 (non-multiples of 8 exercise edge-replication
    padding), restart interval cycling 0/1/2, pixel (x, y) =
    (3·id + 11·(x//8) + 17·(y//8)) % 256.  Constant 8×8 blocks + the
    encoder's flat quant table make the DCT round trip BIT-EXACT (only
    the DC coefficient survives; 8·v is exact in binary float), so an
    independent oracle recomputes every pixel statistic from arithmetic
    alone — the full marker-parse → Huffman → dequant → IDCT path
    through real bytes is what the gate verifies."""
    return _payload_fixture(df, id_col, _jpeg_payload)


def generate_image_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic image corpus from row ids: even ids become real
    PNGs (RGBA when id % 4 == 0 else RGB, scanline filter cycling
    through all five types), odd ids 24-bit BMPs; pixel (x, y, c) =
    (id + 7x + 13y + 29c) % 256 so an independent oracle can recompute
    every statistic from arithmetic alone — the encode→decode round
    trip through real bytes is what the gate verifies."""
    return _payload_fixture(df, id_col, _image_payload)


def decode_image_features(media: DataFrame) -> DataFrame:
    """REAL pixel-statistics extraction over binary image payloads via
    mapInPandas — the decode stage of a multimodal training pipeline.
    Input needs (doc_id, payload); PNG/BMP/baseline-JPEG payloads are
    decoded by the stdlib codecs; bad rows follow the pass-through
    contract (module docstring) — route them to ``decode_image_stub``
    for byte features."""
    return _payload_stage(media, PIXEL_FEATURE_SCHEMA, _pixel_rows)


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("sample_rate", LongType()),
        StructField("channels", LongType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", LongType()),
        StructField("amp_sum", LongType()),
        StructField("amp_min", LongType()),
        StructField("amp_max", LongType()),
    ]
)


def _audio_rows(doc_id, payload) -> list[dict]:
    def body(fmt, wav):
        sr, ch, nf, samples = wav
        return [
            {
                "sample_rate": sr,
                "channels": ch,
                "n_frames": nf,
                "duration_ms": nf * 1000 // sr,
                "amp_sum": sum(samples),
                "amp_min": min(samples) if samples else None,
                "amp_max": max(samples) if samples else None,
            }
        ]

    return _decoded_rows(doc_id, payload, AUDIO_FEATURE_SCHEMA, ("wav",), decode_wav, body)


def decode_audio_features(media: DataFrame) -> DataFrame:
    """REAL sample-statistics extraction over binary WAV payloads via
    mapInPandas (`extraction/audiocodec.py`, pure stdlib).  Integer
    stats only (amp_sum/min/max, floor-division duration) so the DuckDB
    oracle recomputes them bit-exactly; bad rows follow the
    pass-through contract (module docstring)."""
    return _payload_stage(media, AUDIO_FEATURE_SCHEMA, _audio_rows)


def _wav_payload(d: int) -> bytes:
    if d % 7 == 3:  # undecodable row: RIFF/WAVE with float PCM tag
        body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + struct.pack(
            "<HHIIHH", 3, 1, 8000, 32000, 4, 32
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body
    return encode_wav((8000, 16000, 44100)[d % 3], d % 2 + 1, _wav_samples(d))


def generate_wav_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic WAV corpus from row ids: sample rate cycling
    8k/16k/44.1k, 1-2 channels, 10..59 frames, flat sample value
    i -> ((id·31 + 7i) mod 65536) − 32768; every 7th id (mod 7 == 3) is
    a float-PCM WAV the decoder must reject, exercising the
    pass-through contract.  An independent oracle recomputes every
    statistic from arithmetic alone — the RIFF parse → PCM unpack path
    through real bytes is what the gate verifies."""
    return _payload_fixture(df, id_col, _wav_payload)


AUDIO_WINDOW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("window_idx", LongType()),
        StructField("start_ms", LongType()),
        StructField("n_values", LongType()),
        StructField("energy_sum", LongType()),
        StructField("amp_peak", LongType()),
    ]
)


def audio_frame_energy(media: DataFrame, frame_ms: int = 1) -> DataFrame:
    """Windowed audio energy (1→N fan-out): each decodable WAV payload
    yields one row per fixed ``frame_ms`` window — integer |sample| sum
    and peak over the window's interleaved values — the segmentation
    primitive (VAD thresholding, silence trimming, loudness bucketing)
    of a speech-data pipeline.  Window boundaries are integer sample
    frames (``sr * frame_ms // 1000``), so a DuckDB oracle recomputes
    every row arithmetically.  Bad rows follow the pass-through
    contract (module docstring)."""

    def body(fmt, wav):
        sr, ch, nf, samples = wav
        spf = sr * frame_ms // 1000  # sample frames per window
        if spf == 0 or nf == 0:
            # sub-ms rates or empty audio: one accounting row
            return [{}]
        rows = []
        for w in range((nf + spf - 1) // spf):
            lo, hi = w * spf * ch, min((w + 1) * spf, nf) * ch
            win = samples[lo:hi]
            rows.append(
                {
                    "window_idx": w,
                    "start_ms": w * frame_ms,
                    "n_values": hi - lo,
                    "energy_sum": sum(abs(v) for v in win),
                    "amp_peak": max(abs(v) for v in win),
                }
            )
        return rows

    def _audio_window_rows(doc_id, payload) -> list[dict]:
        return _decoded_rows(doc_id, payload, AUDIO_WINDOW_SCHEMA, ("wav",), decode_wav, body)

    return _payload_stage(media, AUDIO_WINDOW_SCHEMA, _audio_window_rows)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("out_w", LongType()),
        StructField("out_h", LongType()),
        StructField("out_pixel_sum", LongType()),
        StructField("out_bmp_bytes", LongType()),
    ]
)


def _resize_box2(w: int, h: int, nch: int, px) -> tuple:
    """Real 2x box-filter downsample: each output pixel is the integer
    mean (floor) of its 2x2 source block.  Floor-crop semantics: with
    odd dims the trailing row/column is dropped, so every block is a
    full 2x2 — the arithmetic the oracle reproduces exactly."""
    ow, oh = w // 2, h // 2
    out = bytearray(ow * oh * nch)
    for Y in range(oh):
        for X in range(ow):
            base0 = (2 * Y * w + 2 * X) * nch
            base1 = ((2 * Y + 1) * w + 2 * X) * nch
            for c in range(nch):
                s = (
                    px[base0 + c]
                    + px[base0 + nch + c]
                    + px[base1 + c]
                    + px[base1 + nch + c]
                )
                out[(Y * ow + X) * nch + c] = s // 4
    return ow, oh, bytes(out)


def _resize_rows(doc_id, payload) -> list[dict]:
    def body(fmt, img):
        w, h, nch, px = img
        if w < 2 or h < 2:
            return [{"fmt": f"{fmt}_tiny"}]
        ow, oh, out = _resize_box2(w, h, nch, px)
        # re-encode as BMP24 to prove the round trip: drop alpha /
        # replicate gray so the writer always sees RGB
        if nch >= 3:
            rgb = bytes(
                out[(i // 3) * nch + (i % 3)] for i in range(ow * oh * 3)
            )
        else:
            # 1-ch gray AND 2-ch gray+alpha both replicate channel 0
            # of each pixel — indexing by i//3 alone walked the
            # buffer at the wrong stride for nch=2 and emitted
            # ALPHA bytes as pixel values (r06 review)
            rgb = bytes(
                out[(i // 3) * nch] for i in range(ow * oh * 3)
            )
        bmp = encode_bmp24(ow, oh, rgb)
        return [
            {
                "width": w,
                "height": h,
                "channels": nch,
                "out_w": ow,
                "out_h": oh,
                "out_pixel_sum": sum(out),
                "out_bmp_bytes": len(bmp),
            }
        ]

    return _decoded_rows(doc_id, payload, RESIZE_SCHEMA, _IMAGE_FMTS, decode_image, body)


def resize_image_features(media: DataFrame) -> DataFrame:
    """REAL image resize on executors: decode (stdlib codecs), 2x
    box-filter downsample, BMP24 re-encode — the full decode ->
    transform -> re-encode round trip of a multimodal preprocessing
    stage, Arrow-batched via mapInPandas like the decode ops.  Bad
    rows follow the pass-through contract (module docstring); a
    sub-2x2 image is one null-stat '<fmt>_tiny' row."""
    return _payload_stage(media, RESIZE_SCHEMA, _resize_rows)


VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("frame_idx", LongType()),
        StructField("ts_ms", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("pixel_sum", LongType()),
        StructField("px_min", LongType()),
        StructField("px_max", LongType()),
    ]
)


def sample_video_frames(media: DataFrame, stride: int = 1) -> DataFrame:
    """REAL frame sampling over binary AVI payloads via mapInPandas
    (`extraction/videocodec.py`, pure stdlib): the 1→N UDTF-shaped
    multimodal stage — every ``stride``-th uncompressed-DIB frame comes
    out with integer pixel stats and its container timestamp.  Bad
    rows follow the pass-through contract (module docstring);
    `sample_frames_stub` remains the byte-stat fallback shape for
    codecs needing native libraries."""

    def body(fmt, avi):
        w, h, us, frames = avi
        if not frames:
            # a well-formed container with an empty movi list still
            # yields ONE row — per-doc accounting never silently drops
            # a doc_id (r05 review)
            return [{}]
        rows = []
        for idx in range(0, len(frames), stride):
            px = frames[idx]
            rows.append(
                {
                    "frame_idx": idx,
                    "ts_ms": idx * us // 1000,
                    "width": w,
                    "height": h,
                    "pixel_sum": sum(px),
                    "px_min": min(px) if px else None,
                    "px_max": max(px) if px else None,
                }
            )
        return rows

    def _video_frame_rows(doc_id, payload) -> list[dict]:
        return _decoded_rows(doc_id, payload, VIDEO_FRAME_SCHEMA, ("avi",), decode_avi, body)

    return _payload_stage(media, VIDEO_FRAME_SCHEMA, _video_frame_rows)


def _avi_payload(d: int) -> bytes:
    n, w, h = d % 4 + 1, d % 3 + 2, d % 2 + 2
    frames = [_rgb_pixels(d + 3 * f, w, h) for f in range(n)]
    return encode_avi(w, h, frames, us_per_frame=40000)


def generate_avi_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic AVI corpus from row ids: 1-4 uncompressed-DIB
    frames of 2-4 × 2-3 RGB at 25 fps, pixel (f, x, y, c) =
    (id + 3f + 7x + 13y + 29c) % 256 — an independent oracle recomputes
    every per-frame statistic from arithmetic alone; the RIFF walk →
    DIB plane → BGR→RGB path through real bytes is what the gate
    verifies."""
    return _payload_fixture(df, id_col, _avi_payload)


def generate_mjpg_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic Motion-JPEG corpus from row ids: 1-3 grayscale
    baseline-JPEG frames of (4-16) x (4-12) per container, pixel
    (f, x, y) = (id + 5f + 11*(x//8) + 17*(y//8)) % 256 — constant
    8x8 blocks, so the DCT round trip is bit-exact and an arithmetic
    oracle predicts every decoded pixel (same trick as the
    `jpeg_decode_stats` gate).  What the gate then verifies end-to-end:
    RIFF walk -> `00dc` chunk -> baseline JPEG decode -> gray->RGB
    replicate, all through real bytes."""
    return _payload_fixture(df, id_col, _mjpg_payload)


GIF_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("frame_idx", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_palette", LongType()),
        StructField("idx_sum", LongType()),
        StructField("rgb_sum", LongType()),
    ]
)


def _gif_payload(d: int) -> bytes:
    """Shared GIF fixture construction (used by generate_gif_fixture
    AND the media-router fixture — one definition, so the oracles that
    hard-code this arithmetic cannot drift apart; r06 review)."""
    w, h, npal, nfr = d % 7 + 3, d % 4 + 2, d % 5 + 2, d % 3 + 1
    pal = [
        ((d + 11 * i) % 256, (d + 23 * i) % 256, (d + 37 * i) % 256)
        for i in range(npal)
    ]
    frames = [
        bytes((x + 2 * y + f + d) % npal for y in range(h) for x in range(w))
        for f in range(nfr)
    ]
    return encode_gif(w, h, pal, frames)


def _mjpg_payload(d: int) -> bytes:
    """Shared Motion-JPEG fixture construction (generate_mjpg_fixture +
    router fixture)."""
    n, w, h = d % 3 + 1, d % 13 + 4, d % 9 + 4
    jpegs = [
        encode_jpeg_gray(
            w,
            h,
            [
                (d + 5 * f + 11 * (x // 8) + 17 * (y // 8)) % 256
                for y in range(h)
                for x in range(w)
            ],
        )
        for f in range(n)
    ]
    return encode_avi_mjpg(w, h, jpegs, us_per_frame=40000)


def _wav_samples(d: int) -> list[int]:
    """Shared PCM sample construction (WAV fixture + router fixture;
    the containers differ — mixed rates / reject rows vs fixed 8 kHz —
    but the sample arithmetic every oracle hard-codes lives here)."""
    ch, n = d % 2 + 1, d % 50 + 10
    return [((d * 31 + 7 * i) % 65536) - 32768 for i in range(n * ch)]


def _gif_frame_rows(doc_id, payload) -> list[dict]:
    def body(fmt, gif):
        w, h, pal, frames = gif
        return [
            {
                "frame_idx": idx,
                "width": w,
                "height": h,
                "n_palette": len(pal),
                "idx_sum": sum(plane),
                "rgb_sum": sum(frame_rgb(pal, plane)),
            }
            for idx, plane in enumerate(frames)
        ]

    return _decoded_rows(doc_id, payload, GIF_FRAME_SCHEMA, ("gif",), decode_gif, body)


def sample_gif_frames(media: DataFrame) -> DataFrame:
    """REAL animated-GIF frame sampling via mapInPandas
    (`extraction/gifcodec.py`, pure stdlib LZW): every frame comes out
    composited to the full canvas with palette-index and RGB pixel
    sums.  Bad rows follow the pass-through contract (module
    docstring)."""
    return _payload_stage(media, GIF_FRAME_SCHEMA, _gif_frame_rows)


def generate_gif_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic animated-GIF corpus from row ids: 1-3 frames of
    (3-9) x (2-5) cells over a 2-6 color palette, index (x, y, f) =
    (x + 2y + f + d) % n_palette and palette channel c of entry i =
    (d + prime_c * i) % 256 — an arithmetic oracle recomputes every
    per-frame index and RGB sum; the LZW bitstream -> sub-block ->
    palette -> canvas path through real bytes is what the gate
    verifies."""
    return _payload_fixture(df, id_col, _gif_payload)


ROUTER_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_class", StringType()),
        StructField("fmt", StringType()),
        StructField("n_units", LongType()),
        StructField("stat_sum", LongType()),
    ]
)


def _route_rows(doc_id, payload) -> list[dict]:
    def row(media_class, fmt, n_units=None, stat_sum=None):
        return [{"doc_id": doc_id, "media_class": media_class, "fmt": fmt,
                 "n_units": n_units, "stat_sum": stat_sum}]

    if payload is None:
        return row("missing", "missing")
    p = bytes(payload)
    fmt = _sniff(p)
    try:
        if fmt == "gif":
            _, _, pal, frames = decode_gif(p)
            return row("image_anim", fmt, len(frames),
                       sum(sum(frame_rgb(pal, fr)) for fr in frames))
        if fmt == "avi":
            frames = decode_avi(p)[3]
            return row("video", fmt, len(frames), sum(sum(fr) for fr in frames))
        if fmt == "wav":
            _, _, nframes, samples = decode_wav(p)
            return row("audio", fmt, nframes, int(sum(samples)))
        if fmt in _IMAGE_FMTS:
            px = decode_image(p)[3]
            return row("image", fmt, 1, sum(px))
    except ValueError:  # every codec's Unsupported*Error is a ValueError
        return row("undecodable", "undecodable")
    return row("other", "other")


def route_media_features(media: DataFrame) -> DataFrame:
    """The heterogeneous-corpus stage: ONE binary column holding many
    formats, sniffed per row and dispatched to the right REAL decoder —
    images (PNG/BMP/JPEG) to the pixel path, animated GIFs to the LZW
    frame path, RIFF/AVI (incl. Motion-JPEG) to the video path,
    RIFF/WAVE to the PCM path.  Emits one row per payload with the
    media class, sniffed format, unit count (frames for video/GIF,
    per-channel sample frames for audio, 1 for stills) and the summed
    integer unit statistic — comparable across a mixed corpus without
    per-format tables.  Bad rows follow the pass-through contract
    (module docstring), labelled missing / other / undecodable in both
    label columns."""
    return _payload_stage(media, ROUTER_SCHEMA, _route_rows)


def _router_payload(d: int) -> bytes:
    if d % 97 == 13:  # junk row: router must not die
        return b"\x00junk" + bytes([d % 256]) * 5
    kind = d % 6
    if kind in (0, 1):  # png / bmp, 3 channels
        w, h = d % 4 + 2, d % 3 + 2
        px = _rgb_pixels(d, w, h)
        return encode_png(w, h, 3, px) if kind == 0 else encode_bmp24(w, h, px)
    if kind == 2:  # gray baseline jpeg, constant blocks
        return encode_jpeg_gray(*_jpeg_grid(d))
    if kind == 3:  # animated gif (shared builder)
        return _gif_payload(d)
    if kind == 4:  # motion-jpeg avi (shared builder)
        return _mjpg_payload(d)
    # 16-bit PCM wav (shared sample builder)
    return encode_wav(8000, d % 2 + 1, _wav_samples(d))


def generate_media_router_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Six real formats + junk rows in ONE binary column, all encoded
    from doc_id arithmetic so a single oracle predicts every routed
    statistic (`plans/extra_queries.py::media_router_stats`)."""
    return _payload_fixture(df, id_col, _router_payload)


def _g711_payload(d: int) -> bytes:
    ch = d % 2 + 1
    n = (d % 40 + 20) * ch
    enc = bytes((d + 13 * i) % 256 for i in range(n))
    return encode_wav_g711(8000, ch, enc, "mulaw" if d % 2 == 0 else "alaw")


# small BOUNDED cache: 63 md5 digests per CLUSTER, not per doc
# (~30x fixture CPU at scale).  doc_ids are usually contiguous
# within a partition (one live cluster), but an upstream
# repartition can interleave them — a handful of FIFO slots stays
# robust to interleaving at negligible memory, where an unbounded
# dict retained one grid per cluster for the partition's lifetime
# and a single slot silently fell back to per-row recompute
# (review r07 follow-ups).
_IM_GRID_CACHE: dict[int, list[list[int]]] = {}


def _image_base_grid(g: int) -> list[list[int]]:
    grid = _IM_GRID_CACHE.get(g)
    if grid is None:
        if len(_IM_GRID_CACHE) >= 8:
            _IM_GRID_CACHE.pop(next(iter(_IM_GRID_CACHE)))
        grid = _IM_GRID_CACHE[g] = [
            [
                int(
                    hashlib.md5(f"dh|{g}|{x}|{y}".encode()).hexdigest()[:2],
                    16,
                )
                for x in range(9)
            ]
            for y in range(7)
        ]
    return grid


def _image_neardup_payload(d: int) -> bytes:
    """One 9x7 grayscale BMP of the near-dup corpus: md5 base grid
    shared by 32-doc clusters, k = d % 4 doc-unique pixel
    perturbations.  Bounded-SIZE clusters keep near-dup pair volume
    LINEAR in corpus size — cluster count grows with the corpus — and
    pseudorandom patterns make cross-cluster hamming ~ Binomial(56,
    1/2), accidental <= 3 collisions ~2^-40 per pair.  (The first cut
    used 16 FIXED patterns: dup-cluster size then grows with the
    corpus and pair output goes QUADRATIC — 121M pairs at the 10x
    scale run.  Fixture bug, not operator bug.)"""
    vals = [row[:] for row in _image_base_grid(d // 32)]
    # k=0 docs are EXACT pixel dups of their cluster base, k=1..3
    # drift <= 2 hash bits per flipped pixel
    for j in range(d % 4):
        p = (d * 13 + 29 * j) % 63
        y, x = divmod(p, 9)
        vals[y][x] = (vals[y][x] + 96 + 17 * j) % 256
    px = bytearray()
    for y in range(7):
        for x in range(9):
            v = vals[y][x]
            px += bytes((v, v, v))
    return encode_bmp24(9, 7, bytes(px))


def generate_image_neardup_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic 9x7 grayscale BMP corpus with BUILT-IN near-dup
    structure: md5-pixel base patterns shared by 32-doc clusters, each
    doc perturbing 0-3 pixels — so perceptual-hash dedup has real
    exact-dup and near-dup pairs to find, pair volume stays LINEAR in
    corpus size (cluster size is bounded, cluster count grows), and the
    oracle recomputes every pixel, hash bit, and pair from the same
    md5 formula."""
    return _payload_fixture(df, id_col, _image_neardup_payload)


DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("dhash", LongType()),
    ]
)


def _dhash_value(payload: bytes) -> int | None:
    """dHash of one decoded image payload, or None if undecodable.

    Gradient hash over the native grid (channel-0 intensity):
    bit(r, c) = px[r][c+1] > px[r][c], packed at r*8 + c over the
    top-left 8x(8+1) window -> <= 64 comparisons.  The 9x7 gate
    fixture yields 56 bits; a full 8-row/9+-wide image can set bit 63,
    so fold to SIGNED two's complement before emitting — an unfolded
    2^63 doesn't fit the declared LongType and crashes the Arrow batch
    (review r07).  XOR/bit_count downstream are sign-agnostic."""
    try:
        w, h, ch, pix = decode_image(payload)
    except UnsupportedImageError:
        return None
    hv = 0
    for r in range(min(h, 8)):
        for c in range(min(w - 1, 8)):
            a = pix[(r * w + c) * ch]
            b = pix[(r * w + c + 1) * ch]
            if b > a:
                hv |= 1 << (r * 8 + c)
    if hv >= 1 << 63:
        hv -= 1 << 64
    return hv


def _dhash_rows(doc_id, payload) -> list[dict]:
    return [{"doc_id": doc_id, "dhash": None if payload is None else _dhash_value(bytes(payload))}]


def image_dhash_fingerprints(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash over REAL decoded pixels
    (`extraction/imagecodec.py`): one slim (doc_id, dhash bigint) row
    per image, computed map-side in Arrow batches — the image payloads
    never shuffle; near-dup pairing downstream is pure JVM bit math
    over the fingerprint table."""
    return _payload_stage(media, DHASH_SCHEMA, _dhash_rows)


#: audio near-dup fixture geometry: 57 windows x 16 samples -> 56
#: adjacent-energy comparison bits (always positive in an int64)
_AU_WINDOWS, _AU_WIN = 57, 16


def _audio_neardup_samples(d: int) -> list[int]:
    """Deterministic per-doc PCM shared by 32-doc clusters: window w of
    cluster g holds 16 flat samples at the md5-derived level
    v(g, w) in [0, 32768), so the energy ENVELOPE is a pseudorandom
    56-bit pattern per cluster — cross-cluster hamming ~ Binomial(56,
    1/2), accidental pairs ~4e-13.  (A first cut used a single
    linear-congruential wave per cluster: window energies then shared
    structure ACROSS clusters and unrelated clips collided at ~1e-3 —
    the 10x scale run measured alpha_rows 1.34.  Envelope entropy must
    come from the seed, not from arithmetic of the window index.)
    k = d % 4 doc-unique windows shift by +4096 (wrapping), drifting
    <= 2 envelope bits each."""
    g = d // 32
    vals = list(_audio_cluster_levels(g))
    for m in range(d % 4):
        w = (d * 7 + 11 * m) % _AU_WINDOWS
        vals[w] = (vals[w] + 4096) % 32768
    return [v for v in vals for _ in range(_AU_WIN)]


#: bounded FIFO cache of per-cluster window levels — 57 md5 digests per
#: CLUSTER, not per doc (the image fixture's base_cache rationale; the
#: perturbation above copies before mutating)
_AU_LEVEL_CACHE: dict[int, tuple[int, ...]] = {}


def _audio_cluster_levels(g: int) -> tuple[int, ...]:
    levels = _AU_LEVEL_CACHE.get(g)
    if levels is None:
        if len(_AU_LEVEL_CACHE) >= 8:
            _AU_LEVEL_CACHE.pop(next(iter(_AU_LEVEL_CACHE)))
        levels = _AU_LEVEL_CACHE[g] = tuple(
            int(hashlib.md5(f"au|{g}|{w}".encode()).hexdigest()[:4], 16) % 32768
            for w in range(_AU_WINDOWS)
        )
    return levels


def _audio_neardup_payload(d: int) -> bytes:
    """One mono 16-bit PCM WAV of the audio near-dup corpus."""
    return encode_wav(8000, 1, _audio_neardup_samples(d))


def generate_audio_neardup_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic mono 16-bit PCM corpus with BUILT-IN near-dup
    structure (the audio twin of `generate_image_neardup_fixture`):
    md5-seeded cluster waves, 0-3 shifted windows per doc, pair volume
    linear in corpus size.  The oracle recomputes every sample, window
    energy, hash bit, and pair from the arithmetic alone; the real
    RIFF encode -> decode path is what the Spark side exercises."""
    return _payload_fixture(df, id_col, _audio_neardup_payload)


AUDIO_FP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ahash", LongType()),
    ]
)


def _ahash_value(payload: bytes) -> int | None:
    """Energy-envelope difference hash of one WAV payload, or None if
    undecodable (channel-interleave-agnostic for mono; bounded to the
    leading 57 windows): bit(j) = energy(window j+1) > energy(window
    j)."""
    try:
        _, ch, _, samples = decode_wav(payload)
    except UnsupportedAudioError:
        return None
    mono = samples[::ch] if ch > 1 else samples
    energies = []
    for w in range(_AU_WINDOWS):
        seg = mono[w * _AU_WIN : (w + 1) * _AU_WIN]
        if len(seg) < _AU_WIN:
            break
        energies.append(sum(abs(s) for s in seg))
    hv = 0
    for j in range(len(energies) - 1):
        if j >= 63:
            break
        if energies[j + 1] > energies[j]:
            hv |= 1 << j
    return hv


def _ahash_rows(doc_id, payload) -> list[dict]:
    return [{"doc_id": doc_id, "ahash": None if payload is None else _ahash_value(bytes(payload))}]


def audio_energy_fingerprints(media: DataFrame) -> DataFrame:
    """Perceptual audio fingerprint over REAL decoded PCM
    (`extraction/audiocodec.py`): the energy-envelope difference hash —
    one slim (doc_id, ahash bigint) row per clip, computed map-side in
    Arrow batches; payloads never shuffle.  Same near-dup pairing
    contract as `image_dhash_fingerprints`."""
    return _payload_stage(media, AUDIO_FP_SCHEMA, _ahash_rows)


#: video near-dup fixture geometry: 57 frames of 4x3 RGB -> 56
#: adjacent-frame brightness comparison bits
_VI_FRAMES, _VI_W, _VI_H = 57, 4, 3

_VI_LEVEL_CACHE: dict[int, tuple[int, ...]] = {}


def _video_cluster_levels(g: int) -> tuple[int, ...]:
    levels = _VI_LEVEL_CACHE.get(g)
    if levels is None:
        if len(_VI_LEVEL_CACHE) >= 8:
            _VI_LEVEL_CACHE.pop(next(iter(_VI_LEVEL_CACHE)))
        levels = _VI_LEVEL_CACHE[g] = tuple(
            int(hashlib.md5(f"vi|{g}|{f}".encode()).hexdigest()[:2], 16)
            for f in range(_VI_FRAMES)
        )
    return levels


def _video_neardup_payload(d: int) -> bytes:
    """One 57-frame flat-brightness AVI of the video near-dup corpus."""
    levels = list(_video_cluster_levels(d // 32))
    # k = d % 4 doc-unique FRAMES brightened by +96 (wrapping)
    for m in range(d % 4):
        f = (d * 7 + 11 * m) % _VI_FRAMES
        levels[f] = (levels[f] + 96) % 256
    frames = [bytes([v] * (_VI_W * _VI_H * 3)) for v in levels]
    return encode_avi(_VI_W, _VI_H, frames, us_per_frame=40000)


def generate_video_neardup_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic 57-frame AVI corpus with BUILT-IN near-dup
    structure (the video member of the image/audio fixture family):
    md5-per-frame brightness levels shared by 32-doc clusters, 0-3
    doc-unique brightened frames — temporal-envelope entropy comes from
    the seed, pair volume stays linear, and the oracle recomputes every
    level, bit, and pair from arithmetic alone."""
    return _payload_fixture(df, id_col, _video_neardup_payload)


VIDEO_FP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("vhash", LongType()),
    ]
)


def _vhash_value(payload: bytes) -> int | None:
    """Temporal brightness-envelope hash of one AVI payload, or None if
    undecodable: bit(f) = brightness of frame f+1 > frame f, over the
    leading 57 frames."""
    try:
        _, _, _, frames = decode_avi(payload)
    except UnsupportedVideoError:
        return None
    bright = [sum(fr) for fr in frames[:_VI_FRAMES]]
    hv = 0
    for j in range(min(len(bright) - 1, 56)):
        if bright[j + 1] > bright[j]:
            hv |= 1 << j
    return hv


def _vhash_rows(doc_id, payload) -> list[dict]:
    return [{"doc_id": doc_id, "vhash": None if payload is None else _vhash_value(bytes(payload))}]


def video_brightness_fingerprints(media: DataFrame) -> DataFrame:
    """Perceptual video fingerprint over REAL decoded frames
    (`extraction/videocodec.py`): the temporal brightness-envelope
    difference hash — one slim (doc_id, vhash bigint) row per clip,
    map-side; payloads never shuffle.  Same pairing contract as the
    image/audio fingerprints (`operators/dedup.py::
    banded_hamming_pairs`)."""
    return _payload_stage(media, VIDEO_FP_SCHEMA, _vhash_rows)


#: text near-dup fixture geometry: 40 md5 words -> 38 3-word shingles
_TX_WORDS = 40

_TX_WORD_CACHE: dict[int, tuple[str, ...]] = {}


def _text_cluster_words(g: int) -> tuple[str, ...]:
    words = _TX_WORD_CACHE.get(g)
    if words is None:
        if len(_TX_WORD_CACHE) >= 8:
            _TX_WORD_CACHE.pop(next(iter(_TX_WORD_CACHE)))
        words = _TX_WORD_CACHE[g] = tuple(
            hashlib.md5(f"tx|{g}|{i}".encode()).hexdigest()[:6]
            for i in range(_TX_WORDS)
        )
    return words


def _text_neardup_payload(d: int) -> bytes:
    """One UTF-8 text payload of the near-dup corpus: md5 cluster word
    sequence (40 words shared by 32-doc clusters), k = d % 4
    doc-unique word replacements at distinct positions — the text twin
    of the image/audio/video fixture formulas, oracle-recomputable
    from arithmetic alone."""
    words = list(_text_cluster_words(d // 32))
    for j in range(d % 4):
        p = (d * 11 + 7 * j) % _TX_WORDS
        words[p] = hashlib.md5(f"tp|{d}|{j}".encode()).hexdigest()[:6]
    return " ".join(words).encode("utf-8")


def _media_neardup_payload(d: int) -> bytes:
    """One payload of the HETEROGENEOUS near-dup corpus: doc d carries
    its modality's near-dup fixture payload, modality = (d div 8) % 4
    (image BMP / audio WAV / video AVI / UTF-8 text in 8-id runs, so
    k = d % 4 keeps its full 0-3 perturbation range inside every
    modality).  Within a modality the per-doc formulas are the
    single-modality fixtures' verbatim — clusters are d // 32,
    perturbations d % 4 — so each modality keeps its linear near-dup
    structure and the unified oracle reuses the arithmetic fingerprint
    derivations with a (d div 8) % 4 filter."""
    m = (d // 8) % 4
    if m == 0:
        return _image_neardup_payload(d)
    if m == 1:
        return _audio_neardup_payload(d)
    if m == 2:
        return _video_neardup_payload(d)
    return _text_neardup_payload(d)


def generate_media_neardup_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Heterogeneous media corpus (ONE binary column, FOUR modalities
    — image/audio/video/text — interleaved by (doc_id // 8) % 4, so
    each modality owns runs of 8 consecutive ids) with each modality's
    built-in near-dup structure — the input shape a real 100 TB media
    lake presents: you don't get a per-format table, you get a payload
    column and a sniffer."""
    return _payload_fixture(df, id_col, _media_neardup_payload)


MEDIA_FP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("fp", LongType()),
    ]
)


def _thash_value(payload: bytes) -> int | None:
    """56-bit SimHash of a UTF-8 text payload, or None if the bytes
    don't decode / normalize to >= 3 words: distinct 3-word shingles
    of the whitespace-normalized lowercase text, per-shingle hash =
    first 14 hex chars of md5('sim|' || shingle) (the `functions/
    hashing.py::h32_sql` convention widened to 56 bits so every band of
    the shared 4x14 join carries entropy — a 32-bit hash would zero
    band 3 for every text doc and quadratically explode that bucket),
    bit b = majority vote with ties to 1 (the `simhash64` rule).
    Matches the corpus-level `operators/dedup.py::simhash64` math
    except for width; the unified oracle recomputes it bit-for-bit."""
    import re

    try:
        text = payload.decode("utf-8")
    except UnicodeDecodeError:
        return None
    text = re.sub(r"\s+", " ", text.lower()).strip()
    words = text.split(" ") if text else []
    if len(words) < 3:
        return None
    shingles = {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
    n = len(shingles)
    hs = [
        int(hashlib.md5(("sim|" + s).encode()).hexdigest()[:14], 16)
        for s in shingles
    ]
    hv = 0
    for b in range(56):
        if sum((h >> b) & 1 for h in hs) * 2 >= n:
            hv |= 1 << b
    return hv


#: sniffed format -> (modality, perceptual hash); no GIF entry — a GIF
#: (like any payload without an entry) takes the text branch
_FP_OF = {
    "png": ("image", _dhash_value),
    "bmp": ("image", _dhash_value),
    "jpeg": ("image", _dhash_value),
    "wav": ("audio", _ahash_value),
    "avi": ("video", _vhash_value),
}


def _media_fp_rows(doc_id, payload) -> list[dict]:
    modality, fp = "unknown", None
    if payload is not None:
        p = bytes(payload)
        modality, hash_of = _FP_OF.get(_sniff(p), ("text", _thash_value))
        fp = hash_of(p)
        if fp is None and modality != "text":
            # magic-prefix collision: a legitimate UTF-8 text doc
            # can start with b'BM' (e.g. "BM25 scoring ...") or
            # even a RIFF-looking prefix; when the binary decode
            # fails, fall through to the text branch before
            # settling on 'unknown' so such docs keep their
            # text-near-dup coverage.
            modality, fp = "text", _thash_value(p)
        if fp is None:
            modality = "unknown"
    return [{"doc_id": doc_id, "modality": modality, "fp": fp}]


def media_fingerprint_rows(pairs) -> list[dict]:
    """Sniff-and-fingerprint for an iterable of (doc_id, payload):
    per-row format dispatch (`_sniff`) to the matching perceptual hash
    — BMP/PNG/JPEG -> dHash, RIFF/WAVE -> energy envelope, RIFF/AVI ->
    brightness envelope, and anything else that decodes as UTF-8 text
    (>= 3 words) -> the 56-bit SimHash (`_thash_value`).  The row
    function of `media_fingerprints`, which the streaming registry job
    runs too, so both paths compute identical (modality, fp) rows.
    Unroutable or undecodable payloads emit a null fingerprint under
    modality 'unknown' (pass-through contract, module docstring)."""
    return [r for doc_id, payload in pairs for r in _media_fp_rows(doc_id, payload)]


def media_fingerprints(media: DataFrame) -> DataFrame:
    """Unified perceptual-fingerprint router over a heterogeneous
    binary column: one map-side Arrow pass sniffs each payload and
    computes its modality's hash (`_dhash_value` / `_ahash_value` /
    `_vhash_value` / `_thash_value`) — payloads never shuffle; the
    output is one slim
    (doc_id, modality, fp bigint) row per payload, ready for the
    shared `banded_hamming_pairs` join grouped by modality."""
    return _payload_stage(media, MEDIA_FP_SCHEMA, _media_fp_rows)


def _adpcm_payload(d: int) -> bytes:
    n = d % 60 + 20
    samples = [((d * 31 + 7 * i) % 65536) - 32768 for i in range(n)]
    return encode_wav_adpcm(8000, samples, block_samples=21)


def generate_adpcm_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic IMA ADPCM corpus (format tag 0x11): doc d carries
    n = d%60+20 mono samples of the shared arithmetic ramp
    i -> ((d·31 + 7i) mod 65536) − 32768, greedily encoded at 21
    samples/block — small blocks so every payload crosses multiple
    block headers, exercising the step-index carry-over, the odd-tail
    pad nibble, and the header-only tail block the decoder must drop.
    The oracle replays the encode→decode composition as a recursive
    per-sample recurrence over the public IMA step tables, so a nibble
    packing/order, block segmentation, or clamp bug in EITHER codec
    direction fails the hash."""
    return _payload_fixture(df, id_col, _adpcm_payload)


def generate_g711_fixture(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic G.711 corpus: companded byte i of doc d is
    (d + 13i) % 256, alternating mu-law / A-law containers — the
    expansion formulas are pure integer arithmetic, so the oracle
    recomputes every decoded 16-bit sample from the byte alone; the
    RIFF parse -> expansion-table path through real bytes is what the
    gate verifies."""
    return _payload_fixture(df, id_col, _g711_payload)


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = pdf["payload"]
        # a NULL payload keeps its row with null stats; object columns,
        # so the None never turns n_bytes float64
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "n_bytes": pd.Series(
                    [None if b is None else len(b) for b in payloads], dtype=object
                ),
                "checksum": pd.Series(
                    [None if b is None else hashlib.md5(b).hexdigest() for b in payloads],
                    dtype=object,
                ),
                "width": pdf["width"],
                "height": pdf["height"],
            }
        )


def decode_image_stub(media: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads via mapInPandas — the
    real plumbing (Arrow batches of binary cells, bounded by
    maxRecordsPerBatch), with stub features standing in for pixels."""
    return media.mapInPandas(_feature_batches, FEATURE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_offset_ms", LongType()),
        StructField("frame_checksum", StringType()),
    ]
)

_FRAME_INTERVAL_MS = 40  # 25 fps


def _sampled_frames(doc_id, payload) -> list[dict]:
    """``len % 5 + 1`` frames per payload, each with its offset and a
    checksum chained from the payload's; a NULL payload → one row with
    null stats."""
    if payload is None:
        return [{**dict.fromkeys(FRAME_SCHEMA.fieldNames()), "doc_id": doc_id}]
    payload = bytes(payload)
    checksum = hashlib.md5(payload).hexdigest()
    return [
        {
            "doc_id": doc_id,
            "frame_idx": i,
            "ts_offset_ms": i * _FRAME_INTERVAL_MS,
            "frame_checksum": hashlib.md5(f"{checksum}#{i}".encode()).hexdigest(),
        }
        for i in range(len(payload) % 5 + 1)
    ]


def sample_frames_stub(media: DataFrame) -> DataFrame:
    """Frame sampling (1→N fan-out): each payload yields a
    deterministic number of 'frames' (len % 5 + 1) with per-frame
    checksums — the UDTF-shaped multimodal stage (a real implementation
    would pull frames out of a video container here; batch shape,
    fan-out semantics and Arrow plumbing are identical)."""
    return _payload_stage(media, FRAME_SCHEMA, _sampled_frames)
