"""WAV / AVI codec tests: round trips through real bytes, malformed-
payload guards (incl. the corrupt-dims OOM class), and the Spark-stage
pass-through contract for undecodable and NULL payloads."""

import struct

import pytest

from swisscourtrulingcorpus_spark.extraction.audiocodec import (
    UnsupportedAudioError,
    decode_wav,
    encode_wav,
)
from swisscourtrulingcorpus_spark.extraction.videocodec import (
    UnsupportedVideoError,
    decode_avi,
    encode_avi,
)


def test_wav_round_trip_stereo():
    samples = [((31 * i) % 65536) - 32768 for i in range(60)]
    data = encode_wav(16000, 2, samples)
    sr, ch, nf, out = decode_wav(data)
    assert (sr, ch, nf) == (16000, 2, 30)
    assert list(out) == samples
    assert struct.unpack("<I", data[4:8])[0] == len(data) - 8  # exact RIFF size


def test_wav_odd_length_chunk_padding():
    # a 1-sample data chunk is odd-length -> RIFF pads to even; the
    # decoder must honor the pad when walking chunks
    sr, ch, nf, out = decode_wav(encode_wav(8000, 1, [-7]))
    assert (sr, ch, nf, list(out)) == (8000, 1, 1, [-7])


def test_wav_guards():
    good = encode_wav(8000, 1, [1, 2, 3])
    float_pcm = bytearray(good)
    struct.pack_into("<H", float_pcm, good.find(b"fmt ") + 8, 3)  # IEEE float tag
    bad = [
        b"OggS" + bytes(40),                  # not RIFF
        b"RIFF\x08\x00\x00\x00AVI " + bytes(8),  # RIFF but not WAVE
        good[:20],                            # truncated before data
        bytes(float_pcm),                     # float PCM -> unsupported
        good.replace(b"fmt ", b"fmtX"),       # missing fmt chunk
    ]
    for payload in bad:
        with pytest.raises(UnsupportedAudioError):
            decode_wav(payload)


def _avi_frames(d, n, w, h):
    return [
        bytes(
            (d + 3 * f + 7 * x + 13 * y + 29 * c) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        for f in range(n)
    ]


def test_avi_round_trip():
    frames = _avi_frames(9, 3, 5, 3)
    avi = encode_avi(5, 3, frames, us_per_frame=40000)
    w, h, us, out = decode_avi(avi)
    assert (w, h, us, len(out)) == (5, 3, 40000, 3)
    assert [bytes(f) for f in out] == frames
    assert struct.unpack("<I", avi[4:8])[0] == len(avi) - 8  # exact RIFF size


def test_avi_guards():
    avi = encode_avi(2, 2, _avi_frames(1, 1, 2, 2))
    bomb = bytearray(avi)
    struct.pack_into("<II", bomb, avi.find(b"avih") + 8 + 32, 50000, 50000)
    bad = [
        avi[:30],                            # truncated header
        bytes(bomb),                         # GB-scale claimed dims, tiny frame
        avi.replace(b"00db", b"00dc"),       # compressed frame chunk
        avi.replace(b"DIB ", b"MJPG"),       # compressed handler
        b"RIFF\x04\x00\x00\x00WAVE",         # wrong RIFF type
    ]
    for payload in bad:
        with pytest.raises(UnsupportedVideoError):
            decode_avi(payload)


def test_avi_deep_nested_lists_stay_in_contract():
    """~1000 nested LIST headers must raise UnsupportedVideoError (or
    decode to nothing useful), never RecursionError — the iterative
    walk keeps the malformed-payload contract (r05 review)."""
    depth = 1200
    inner = b""
    for _ in range(depth):
        inner = b"LIST" + struct.pack("<I", len(inner) + 4) + b"fake" + inner
    payload = b"RIFF" + struct.pack("<I", len(inner) + 4) + b"AVI " + inner
    with pytest.raises(UnsupportedVideoError):
        decode_avi(payload)


def test_avi_with_audio_track_decodes_video():
    """An 'auds' strl whose strf is a WAVEFORMATEX (not a
    BITMAPINFOHEADER) must not be misparsed as video format — the DIB
    frames still decode (r05 review)."""
    from swisscourtrulingcorpus_spark.extraction.videocodec import _chunk, _list

    frames = _avi_frames(4, 2, 2, 2)
    avi = encode_avi(2, 2, frames)
    # splice an audio strl (strh 'auds' + 16-byte WAVEFORMATEX strf)
    # into hdrl, right before the movi LIST
    auds = _list(
        b"strl",
        _chunk(b"strh", b"auds" + bytes(52))
        + _chunk(b"strf", struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)),
    )
    i = avi.find(b"movi") - 8  # start of the movi LIST header
    with_audio = avi[:i] + auds + avi[i:]
    w, h, us, out = decode_avi(with_audio)
    assert (w, h, len(out)) == (2, 2, 2)
    assert [bytes(f) for f in out] == frames


def test_avi_empty_movi_emits_one_row(spark):
    """A well-formed container with zero frames must still yield ONE
    output row — per-doc accounting never drops a doc_id (r05
    review)."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        sample_video_frames,
    )

    empty = encode_avi(2, 2, [])
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )
    out = sample_video_frames(
        spark.createDataFrame([(7, empty)], schema), stride=1
    ).collect()
    assert len(out) == 1
    assert out[0]["fmt"] == "avi" and out[0]["frame_idx"] is None


def test_audio_video_stage_passthrough(spark):
    """Undecodable and NULL payloads survive both mapInPandas stages
    with null stats (same contract as decode_image_features)."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        decode_audio_features,
        sample_video_frames,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )
    wav = encode_wav(8000, 1, [100, -100])
    avi = encode_avi(2, 2, _avi_frames(3, 2, 2, 2), us_per_frame=40000)
    rows = [(1, None), (2, b"garbage-bytes"), (3, wav), (4, avi)]
    adf = {r["doc_id"]: r for r in decode_audio_features(
        spark.createDataFrame(rows, schema)).collect()}
    assert adf[1]["fmt"] == "missing" and adf[1]["amp_sum"] is None
    assert adf[2]["fmt"] == "other" and adf[2]["n_frames"] is None
    assert adf[3]["fmt"] == "wav" and adf[3]["amp_sum"] == 0
    assert adf[3]["duration_ms"] == 0  # 2 frames / 8000 Hz floors to 0 ms
    assert adf[4]["fmt"] == "other"  # AVI payload is not audio

    vdf = sample_video_frames(spark.createDataFrame(rows, schema), stride=1).collect()
    by_doc = {}
    for r in vdf:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc[1][0]["fmt"] == "missing" and by_doc[1][0]["pixel_sum"] is None
    assert by_doc[2][0]["fmt"] == "other"
    assert by_doc[3][0]["fmt"] == "other"  # WAV payload is not video
    assert [r["frame_idx"] for r in sorted(by_doc[4], key=lambda r: r["frame_idx"])] == [0, 1]
    assert all(r["ts_ms"] == r["frame_idx"] * 40 for r in by_doc[4])


def test_video_stride_sampling(spark):
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        sample_video_frames,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )
    avi = encode_avi(2, 2, _avi_frames(0, 4, 2, 2))
    out = sample_video_frames(
        spark.createDataFrame([(1, avi)], schema), stride=2
    ).collect()
    assert sorted(r["frame_idx"] for r in out) == [0, 2]


def test_wav_codec_property_random_audio():
    """Property: encode->decode is the identity for random sample
    buffers, rates and channel counts."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        sr=st.sampled_from([8000, 16000, 22050, 44100]),
        ch=st.integers(1, 3),
        frames=st.integers(0, 40),
        data=st.data(),
    )
    def check(sr, ch, frames, data):
        samples = data.draw(
            st.lists(
                st.integers(-32768, 32767),
                min_size=frames * ch,
                max_size=frames * ch,
            )
        )
        got_sr, got_ch, got_nf, out = decode_wav(encode_wav(sr, ch, samples))
        assert (got_sr, got_ch, got_nf) == (sr, ch, frames)
        assert list(out) == samples

    check()


def test_avi_codec_property_random_videos():
    """Property: encode->decode is the identity for random frame
    stacks, dims and frame rates."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 7),
        h=st.integers(1, 5),
        n=st.integers(0, 4),
        us=st.sampled_from([33333, 40000, 100000]),
        data=st.data(),
    )
    def check(w, h, n, us, data):
        frames = [
            bytes(
                data.draw(
                    st.lists(
                        st.integers(0, 255),
                        min_size=w * h * 3,
                        max_size=w * h * 3,
                    )
                )
            )
            for _ in range(n)
        ]
        got_w, got_h, got_us, out = decode_avi(encode_avi(w, h, frames, us))
        assert (got_w, got_h, got_us, len(out)) == (w, h, us, n)
        assert [bytes(f) for f in out] == frames

    check()


def test_audio_frame_energy_edge_rows(spark):
    """Empty audio and sub-ms sample rates yield ONE accounting row
    (fmt 'wav', null window stats) instead of vanishing."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        audio_frame_energy,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )
    empty = encode_wav(8000, 1, [])
    subms = encode_wav(500, 1, [1, 2, 3])  # 500 Hz -> spf = 0 at 1 ms
    out = {r["doc_id"]: r for r in audio_frame_energy(
        spark.createDataFrame([(1, empty), (2, subms)], schema), frame_ms=1
    ).collect()}
    assert out[1]["fmt"] == "wav" and out[1]["window_idx"] is None
    assert out[2]["fmt"] == "wav" and out[2]["energy_sum"] is None


def test_audio_frame_energy_windows_values(spark):
    """Window boundaries and integer energy across a 2-channel WAV."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        audio_frame_energy,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )
    # sr=2000 -> spf=2 at 1 ms; 5 frames x 2ch = 10 values -> 3 windows
    samples = [10, -20, 30, -40, 50, -60, 70, -80, 90, -100]
    wav = encode_wav(2000, 2, samples)
    rows = sorted(
        audio_frame_energy(
            spark.createDataFrame([(1, wav)], schema), frame_ms=1
        ).collect(),
        key=lambda r: r["window_idx"],
    )
    assert [r["window_idx"] for r in rows] == [0, 1, 2]
    assert [r["n_values"] for r in rows] == [4, 4, 2]
    assert [r["energy_sum"] for r in rows] == [10 + 20 + 30 + 40, 50 + 60 + 70 + 80, 90 + 100]
    assert [r["amp_peak"] for r in rows] == [40, 80, 100]
    assert [r["start_ms"] for r in rows] == [0, 1, 2]


def test_mjpg_roundtrip_and_contracts():
    """MJPG: encode gray baseline JPEGs into an AVI, decode back
    bit-exactly (constant 8x8 blocks), and the malformed contracts —
    dim mismatch and broken frame bytes — surface as
    UnsupportedVideoError, never a codec crash."""
    import pytest

    from swisscourtrulingcorpus_spark.extraction.jpegcodec import (
        encode_jpeg_gray,
    )
    from swisscourtrulingcorpus_spark.extraction.videocodec import (
        UnsupportedVideoError,
        decode_avi,
        encode_avi_mjpg,
    )

    w, h = 12, 9
    px = [(11 * (x // 8) + 17 * (y // 8) + 5) % 256 for y in range(h) for x in range(w)]
    jpeg = encode_jpeg_gray(w, h, px)
    wd, hd, us, frames = decode_avi(encode_avi_mjpg(w, h, [jpeg, jpeg]))
    assert (wd, hd, len(frames)) == (w, h, 2)
    assert sum(frames[0]) == 3 * sum(px)  # gray replicated to RGB

    with pytest.raises(UnsupportedVideoError):
        decode_avi(encode_avi_mjpg(w + 8, h, [jpeg]))  # dim mismatch
    with pytest.raises(UnsupportedVideoError):
        decode_avi(encode_avi_mjpg(w, h, [jpeg[:20]]))  # truncated frame


def test_g711_expansion_tables_and_idempotence():
    """Both companding laws: expand(compress(expand(b))) == expand(b)
    for every byte (codebook idempotence), quantization error bounded
    by the widest segment, and the ITU sign conventions (mu-law sign
    bit = negative in the complemented domain; A-law sign bit set =
    POSITIVE)."""
    from swisscourtrulingcorpus_spark.extraction.audiocodec import (
        alaw_compress,
        alaw_expand,
        mulaw_compress,
        mulaw_expand,
    )

    for b in range(256):
        assert mulaw_expand(mulaw_compress(mulaw_expand(b))) == mulaw_expand(b)
        assert alaw_expand(alaw_compress(alaw_expand(b))) == alaw_expand(b)
    assert max(
        abs(mulaw_expand(mulaw_compress(v)) - v)
        for v in range(-32768, 32768, 17)
    ) < 1024
    assert max(
        abs(alaw_expand(alaw_compress(v)) - v)
        for v in range(-32768, 32768, 17)
    ) < 1100
    assert mulaw_expand(0xFF) == 0 and mulaw_expand(0x7F) == -0  # zeros
    assert alaw_expand(0xD5) == 8 and alaw_expand(0x55) == -8  # +-min


def test_adpcm_wav_roundtrip_bounded_error():
    """IMA ADPCM through the WAV container: mono block decode
    (including the short tail block), reconstruction error bounded
    after the cold-start adaptation transient, and the stereo /
    bad-step-index contracts."""
    import math

    import pytest

    from swisscourtrulingcorpus_spark.extraction.audiocodec import (
        UnsupportedAudioError,
        adpcm_decode_block,
        decode_wav,
        encode_wav_adpcm,
    )

    sig = [int(5000 * math.sin(i / 7.0)) for i in range(1200)]
    sr, ch, n, samples = decode_wav(encode_wav_adpcm(16000, sig))
    assert (sr, ch) == (16000, 1) and n >= len(sig)
    err = max(
        abs(a - b) for a, b in zip(sig[200:], list(samples)[200 : len(sig)])
    )
    assert err < 400, err

    with pytest.raises(UnsupportedAudioError):
        adpcm_decode_block(b"\x00\x00\x89\x00\x11")  # step index 137 > 88


def _truncated(kind: str) -> bytes:
    """A real payload of ``kind`` cut to 20 bytes: the magic survives,
    every decoder rejects the rest."""
    from swisscourtrulingcorpus_spark.extraction.gifcodec import encode_gif
    from swisscourtrulingcorpus_spark.extraction.imagecodec import encode_png

    full = {
        "png": lambda: encode_png(3, 3, 3, bytes(27)),
        "gif": lambda: encode_gif(3, 2, [(0, 0, 0), (9, 9, 9)], [bytes(6)]),
        "wav": lambda: encode_wav(8000, 1, [1, 2, 3, 4]),
        "avi": lambda: encode_avi(2, 2, [bytes(12)]),
    }[kind]()
    return full[:20]


# stage -> (call, label columns, magic of its truncated row, labels of the
# NULL / junk / truncated rows); every other column must be NULL
_STAGE_CONTRACT = {
    "decode_image_features": (
        lambda mm, df: mm.decode_image_features(df), ("fmt",), "png",
        [("missing",), ("other",), ("png_undecodable",)],
    ),
    "resize_image_features": (
        lambda mm, df: mm.resize_image_features(df), ("fmt",), "png",
        [("missing",), ("other",), ("png_undecodable",)],
    ),
    "decode_audio_features": (
        lambda mm, df: mm.decode_audio_features(df), ("fmt",), "wav",
        [("missing",), ("other",), ("wav_undecodable",)],
    ),
    "audio_frame_energy": (
        lambda mm, df: mm.audio_frame_energy(df), ("fmt",), "wav",
        [("missing",), ("other",), ("wav_undecodable",)],
    ),
    "sample_video_frames": (
        lambda mm, df: mm.sample_video_frames(df), ("fmt",), "avi",
        [("missing",), ("other",), ("avi_undecodable",)],
    ),
    "sample_gif_frames": (
        lambda mm, df: mm.sample_gif_frames(df), ("fmt",), "gif",
        [("missing",), ("other",), ("gif_undecodable",)],
    ),
    "route_media_features": (
        lambda mm, df: mm.route_media_features(df), ("media_class", "fmt"), "gif",
        [("missing", "missing"), ("other", "other"), ("undecodable", "undecodable")],
    ),
    "image_dhash_fingerprints": (
        lambda mm, df: mm.image_dhash_fingerprints(df), (), "png", [(), (), ()],
    ),
    "audio_energy_fingerprints": (
        lambda mm, df: mm.audio_energy_fingerprints(df), (), "wav", [(), (), ()],
    ),
    "video_brightness_fingerprints": (
        lambda mm, df: mm.video_brightness_fingerprints(df), (), "avi", [(), (), ()],
    ),
    "media_fingerprints": (
        lambda mm, df: mm.media_fingerprints(df), ("modality",), "wav",
        [("unknown",), ("unknown",), ("unknown",)],
    ),
}


@pytest.mark.parametrize("stage", sorted(_STAGE_CONTRACT))
def test_payload_stage_bad_row_contract(spark, stage):
    """The media-stage pass-through contract, once for every payload
    stage: a NULL payload, junk bytes and the stage's own magic over
    truncated bytes each come out as exactly ONE row with the stage's
    label and null stats — one bad row never kills the task."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from swisscourtrulingcorpus_spark.extraction import multimodal as mm

    call, label_cols, magic, labels = _STAGE_CONTRACT[stage]
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )
    rows = [(1, None), (2, b"\x00junk-bytes"), (3, _truncated(magic))]
    out = call(mm, spark.createDataFrame(rows, schema)).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2, 3]
    for r in out:
        got = r.asDict()
        assert tuple(got[c] for c in label_cols) == labels[r["doc_id"] - 1]
        stats = {c: v for c, v in got.items() if c not in ("doc_id", *label_cols)}
        assert stats and all(v is None for v in stats.values()), (r["doc_id"], stats)


# byte-feature stub -> its stats columns
_STUB_STATS = {
    "decode_image_stub": ("n_bytes", "checksum", "width", "height"),
    "sample_frames_stub": ("frame_idx", "ts_offset_ms", "frame_checksum"),
}


@pytest.mark.parametrize("stub", sorted(_STUB_STATS))
def test_stub_stage_null_payload_row(spark, stub):
    """The byte-feature stubs keep the NULL-payload half of the contract
    above (they sniff nothing, so junk bytes get real stats): a NULL
    payload comes out as exactly ONE row with null stats, and never
    kills the task its neighbour shares."""
    from swisscourtrulingcorpus_spark.extraction import multimodal as mm

    docs = spark.createDataFrame(
        [(1, "some text"), (2, None)], "doc_id long, text string"
    ).coalesce(1)
    out = getattr(mm, stub)(mm.attach_binary_payload(docs, "text", "doc_id")).collect()
    stats = _STUB_STATS[stub]
    null_rows = [r for r in out if r["doc_id"] == 2]
    assert len(null_rows) == 1
    assert all(null_rows[0][c] is None for c in stats), null_rows
    assert all(r[stats[0]] is not None for r in out if r["doc_id"] == 1)


def test_null_payload_keeps_neighbour_fingerprint_exact(spark):
    """A NULL payload in the same Arrow batch must not round a
    neighbour's 56-bit fingerprint: a None next to ints made the pandas
    column float64, which silently drops the low bits above 2^53."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from swisscourtrulingcorpus_spark.extraction.imagecodec import encode_bmp24
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        _dhash_value,
        image_dhash_fingerprints,
    )

    # every row rises left to right: all 56 dHash bits set
    px = bytes(v for y in range(7) for x in range(9) for v in [(20 * x + y) % 256] * 3)
    bmp = encode_bmp24(9, 7, px)
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )
    df = spark.createDataFrame([(1, bmp), (2, None)], schema).coalesce(1)
    got = {r["doc_id"]: r["dhash"] for r in image_dhash_fingerprints(df).collect()}
    assert got == {1: _dhash_value(bmp), 2: None}
    assert got[1] == 2**56 - 1
