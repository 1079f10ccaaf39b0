"""Baseline JPEG codec (`extraction/jpegcodec.py`): round trips,
entropy-layer properties, honesty boundary (VERDICT r04 item 2)."""

from __future__ import annotations

import struct

import pytest

from swisscourtrulingcorpus_spark.extraction.imagecodec import (
    UnsupportedImageError,
    decode_image,
)
from swisscourtrulingcorpus_spark.extraction.jpegcodec import (
    ZIGZAG,
    decode_jpeg,
    encode_jpeg_color,
    encode_jpeg_gray,
)


def _blocky(d: int, w: int, h: int) -> list[int]:
    return [
        (3 * d + 11 * (x // 8) + 17 * (y // 8)) % 256
        for y in range(h)
        for x in range(w)
    ]


def test_zigzag_is_a_permutation_with_known_anchors():
    assert sorted(ZIGZAG) == list(range(64))
    # first and last anti-diagonals per T.81 figure A.6
    assert ZIGZAG[:10] == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert ZIGZAG[-4:] == [47, 55, 62, 63]


def test_constant_block_gray_roundtrip_bit_exact():
    """Flat quant + constant 8×8 blocks -> only the DC coefficient
    survives and 8·v is exact in binary float: decode == source.  Off-
    grid sizes exercise edge-replication padding; restart intervals
    0/1/2 exercise the RST sync + predictor reset."""
    for d in range(40):
        w, h = d % 21 + 4, d % 13 + 4
        px = _blocky(d, w, h)
        data = encode_jpeg_gray(w, h, px, restart_interval=d % 3)
        got = decode_jpeg(data)
        assert got == (w, h, 1, bytearray(px)), f"doc {d}"


def test_gradient_gray_near_lossless_with_flat_quant():
    px = [(x * 7 + y * 13) % 256 for y in range(24) for x in range(17)]
    _, _, _, out = decode_jpeg(encode_jpeg_gray(17, 24, px))
    assert max(abs(a - b) for a, b in zip(px, out)) <= 3


def test_restart_markers_do_not_change_pixels():
    px = [(x * 7 + y * 13) % 256 for y in range(24) for x in range(17)]
    base = decode_jpeg(encode_jpeg_gray(17, 24, px))
    for interval in (1, 2, 3, 5):
        assert decode_jpeg(encode_jpeg_gray(17, 24, px, restart_interval=interval)) == base


def test_nonflat_quant_bounded_error():
    """Real quantization loses information proportionally to the step:
    constant blocks quantize only the DC coefficient, so max error is
    q0/16 rounded."""
    px = _blocky(9, 16, 16)
    _, _, _, out = decode_jpeg(encode_jpeg_gray(16, 16, px, quant=[16] * 64))
    assert max(abs(a - b) for a, b in zip(px, out)) <= 1
    px2 = [(x * 31 + y * 7) % 256 for y in range(16) for x in range(16)]
    _, _, _, out2 = decode_jpeg(encode_jpeg_gray(16, 16, px2, quant=[16] * 64))
    assert max(abs(a - b) for a, b in zip(px2, out2)) <= 40  # lossy but sane


def test_color_444_and_420_roundtrip():
    rgb = [
        (x * 5 + y * 3 + c * 11) % 256
        for y in range(10)
        for x in range(9)
        for c in range(3)
    ]
    for sub in ((1, 1), (2, 2)):
        w, h, ch, out = decode_jpeg(encode_jpeg_color(9, 10, rgb, subsample=sub))
        assert (w, h, ch) == (9, 10, 3)
        err = max(abs(a - b) for a, b in zip(rgb, out))
        # 4:2:0 averages chroma over 2x2 -> higher but bounded error on
        # a smooth gradient
        assert err <= (2 if sub == (1, 1) else 24), (sub, err)


def test_constant_color_is_color_transform_exact():
    """A constant image survives subsampling exactly; the only loss is
    the RGB->YCbCr->RGB integer rounding (≤2 per channel)."""
    for color in [(200, 30, 90), (0, 0, 0), (255, 255, 255), (17, 203, 64)]:
        rgb = [c for _ in range(16 * 16) for c in color]
        _, _, _, out = decode_jpeg(encode_jpeg_color(16, 16, rgb, subsample=(2, 2)))
        assert max(abs(a - b) for a, b in zip(rgb, out)) <= 2, color


def test_entropy_layer_roundtrip_exercises_zrl_and_eob():
    """Coefficient-domain round trip through the Huffman layer with a
    sparse high-frequency block (15+ zero runs -> ZRL) — pixel-domain
    tests can't reliably hit those symbols."""
    import random

    from swisscourtrulingcorpus_spark.extraction import jpegcodec as J

    rng = random.Random(7)
    blocks = []
    for _ in range(20):
        zz = [0] * 64
        zz[0] = rng.randint(-200, 200)
        for _ in range(rng.randint(0, 4)):
            zz[rng.randint(40, 63)] = rng.randint(-100, 100)  # long runs
        blocks.append(zz)
    dc_b, dc_v = J._fixed_length_table(J._block_symbols(blocks)[0])
    ac_b, ac_v = J._fixed_length_table(J._block_symbols(blocks)[1])
    w = J._BitWriter()
    J._write_blocks(w, blocks, J._encode_map(dc_b, dc_v), J._encode_map(ac_b, ac_v), 0)
    w.flush()
    r = J._BitReader(bytes(w.out) + b"\xff\xd9", 0)
    dec_dc = J._decode_map(dc_b, dc_v)
    dec_ac = J._decode_map(ac_b, ac_v)
    pred = 0
    for zz in blocks:
        coef, pred = J._decode_block(r, dec_dc, dec_ac, [1] * 64, pred)
        want = [0] * 64
        for k in range(64):
            want[J.ZIGZAG[k]] = zz[k]
        assert coef == want


def test_unsupported_variants_raise():
    def frame(marker):
        return (
            b"\xff\xd8"
            + bytes([0xFF, marker])
            + struct.pack(">H", 11)
            + bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0])
        )

    for marker, kind in [(0xC9, "arithmetic"), (0xC3, "lossless")]:
        with pytest.raises(UnsupportedImageError, match=kind):
            decode_jpeg(frame(marker))
    # SOF2 is now SUPPORTED — a progressive frame with no scans must
    # fail as truncated, not as an unsupported variant
    with pytest.raises(UnsupportedImageError, match="no SOS"):
        decode_jpeg(frame(0xC2) + b"\xff\xd9")
    # 12-bit precision
    twelve = (
        b"\xff\xd8\xff\xc0" + struct.pack(">H", 11) + bytes([12, 0, 8, 0, 8, 1, 1, 0x11, 0])
    )
    with pytest.raises(UnsupportedImageError, match="12-bit"):
        decode_jpeg(twelve)
    with pytest.raises(UnsupportedImageError):
        decode_jpeg(b"\x89PNG not a jpeg")


def test_decode_image_dispatch_sniffs_jpeg():
    px = _blocky(3, 12, 9)
    data = encode_jpeg_gray(12, 9, px)
    assert decode_image(data) == (12, 9, 1, bytearray(px))


def test_decode_image_features_jpeg_spark(spark):
    """The mapInPandas decode stage labels and decodes JPEG payloads."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        decode_image_features,
        generate_jpeg_fixture,
    )

    docs = spark.range(12).withColumnRenamed("id", "doc_id")
    rows = {
        r["doc_id"]: r
        for r in decode_image_features(generate_jpeg_fixture(docs)).collect()
    }
    assert len(rows) == 12
    for d, r in rows.items():
        w, h = d % 21 + 4, d % 13 + 4
        px = _blocky(d, w, h)
        assert r["fmt"] == "jpeg"
        assert (r["width"], r["height"], r["channels"]) == (w, h, 1)
        assert r["pixel_sum"] == sum(px)
        assert r["px_min"] == min(px) and r["px_max"] == max(px)


def test_malformed_payloads_raise_unsupported_only():
    """r05 review: every undecodable FFD8 payload must surface as
    UnsupportedImageError (the decode_image fallback contract), never
    ValueError/KeyError/struct.error."""
    px = _blocky(1, 16, 16)
    good = encode_jpeg_gray(16, 16, px)
    # 4-component (CMYK-style) SOF
    cmyk = (
        b"\xff\xd8\xff\xc0"
        + struct.pack(">H", 20)
        + bytes([8, 0, 16, 0, 16, 4])
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0])
    )
    # SOS referencing an undefined Huffman table
    def with_bad_sos(data: bytes) -> bytes:
        i = data.find(b"\xff\xda")
        return data[: i + 5] + bytes([0x23]) + data[i + 6 :]

    for payload in [
        cmyk,
        with_bad_sos(good),
        good[: len(good) // 2],  # truncated entropy stream
        good[:9],  # truncated header
        b"\xff\xd8\xff\xd9",  # SOI+EOI, no frame
    ]:
        with pytest.raises(UnsupportedImageError):
            decode_jpeg(payload)


def test_single_component_scan_ignores_sampling_factors():
    """T.81 A.2.2: one-component scans are non-interleaved — a
    grayscale frame declaring 2x2 sampling factors must decode
    identically to the 1x1 encoding (r05 review: it was tiled as MCUs
    and garbled)."""
    px = _blocky(5, 32, 16)
    data = encode_jpeg_gray(32, 16, px)
    # patch the SOF component sampling byte 0x11 -> 0x22
    i = data.find(b"\xff\xc0")
    assert data[i + 11] == 0x11
    patched = data[: i + 11] + bytes([0x22]) + data[i + 12 :]
    assert decode_jpeg(patched) == (32, 16, 1, bytearray(px))


def test_asymmetric_chroma_subsampling_roundtrip():
    """r05 review: (2,1)/(1,2) subsampling crashed with IndexError
    because the Y plane padded both axes by 8*sh."""
    rgb = [
        (x * 5 + y * 3 + c * 11) % 256
        for y in range(8)
        for x in range(24)
        for c in range(3)
    ]
    for sub in ((2, 1), (1, 2)):
        w, h, ch, out = decode_jpeg(encode_jpeg_color(24, 8, rgb, subsample=sub))
        assert (w, h, ch) == (24, 8, 3)
        assert max(abs(a - b) for a, b in zip(rgb, out)) <= 24, sub


def test_mixed_corpus_with_undecodable_payloads_survives(spark):
    """r05 review: one bad payload in a mixed media corpus must not
    kill the decode stage — undecodable rows pass through with null
    stats and a routable fmt label."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from swisscourtrulingcorpus_spark.extraction.imagecodec import encode_png
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        decode_image_features,
    )

    good_jpeg = encode_jpeg_gray(8, 8, _blocky(2, 8, 8))
    good_png = encode_png(2, 2, 3, bytes(range(12)))
    rows = [
        (1, good_jpeg),
        (2, good_png),
        (3, good_jpeg[: len(good_jpeg) // 2]),  # truncated JPEG
        (4, b"\x00\x01\x02video-bytes"),  # not an image at all
    ]
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )
    out = {
        r["doc_id"]: r
        for r in decode_image_features(
            spark.createDataFrame(rows, schema)
        ).collect()
    }
    assert out[1]["fmt"] == "jpeg" and out[1]["pixel_sum"] is not None
    assert out[2]["fmt"] == "png" and out[2]["pixel_sum"] == sum(range(12))
    assert out[3]["fmt"] == "jpeg_undecodable" and out[3]["pixel_sum"] is None
    assert out[4]["fmt"] == "other" and out[4]["width"] is None


def test_malformed_png_bmp_payloads_raise_unsupported_only():
    """r05 review pass 2: the error contract lives in decode_image —
    truncated/corrupt PNG and BMP must also surface as
    UnsupportedImageError, not zlib.error/struct.error."""
    from swisscourtrulingcorpus_spark.extraction.imagecodec import encode_png

    good_png = encode_png(4, 4, 3, bytes(range(48)))
    i = good_png.find(b"IDAT")
    corrupt_idat = good_png[: i + 6] + b"\x00" * 8 + good_png[i + 14 :]
    bad = [
        good_png[:20],  # truncated IHDR/IDAT
        corrupt_idat,  # zeroed zlib stream -> zlib.error
        b"BM" + bytes(10),  # BMP header shorter than BITMAPINFOHEADER
        b"BM" + bytes(40),  # zeroed header fields
    ]
    for payload in bad:
        with pytest.raises(UnsupportedImageError):
            decode_image(payload)


def test_corrupt_sof_guards():
    """Zero sampling factors (ZeroDivisionError class) and implausible
    dimensions (GB-scale allocation class) must both raise before any
    plane is allocated."""
    px = _blocky(1, 8, 8)
    data = encode_jpeg_gray(8, 8, px)
    i = data.find(b"\xff\xc0")
    zero_h = data[: i + 11] + bytes([0x01]) + data[i + 12 :]  # h factor == 0
    zero_v = data[: i + 11] + bytes([0x10]) + data[i + 12 :]  # v factor == 0
    for payload in (zero_h, zero_v):
        with pytest.raises(UnsupportedImageError):
            decode_jpeg(payload)
    # height/width words sit at SOF offset +5/+7
    huge = data[: i + 5] + b"\xff\xff\xff\xff" + data[i + 9 :]
    with pytest.raises(UnsupportedImageError, match="implausible"):
        decode_jpeg(huge)
    zero_dim = data[: i + 5] + b"\x00\x00\x00\x08" + data[i + 9 :]
    with pytest.raises(UnsupportedImageError, match="zero-dimension"):
        decode_jpeg(zero_dim)


def test_corrupt_dims_guards_png_bmp():
    """Implausible claimed dims in a tiny payload must raise before any
    plane is allocated — the JPEG-only OOM guard extended to PNG/BMP
    (r05 review): a ~60-byte BMP claiming a 50000x50000 plane, and a
    PNG whose IHDR claims more raw output than its IDAT could inflate."""
    import struct

    from swisscourtrulingcorpus_spark.extraction.imagecodec import (
        encode_bmp24,
        encode_png,
    )

    bomb_bmp = bytearray(encode_bmp24(2, 2, bytes(12)))
    struct.pack_into("<ii", bomb_bmp, 18, 50000, 50000)
    with pytest.raises(UnsupportedImageError, match="exceed"):
        decode_image(bytes(bomb_bmp))

    bomb_png = bytearray(encode_png(2, 2, 3, bytes(12)))
    ihdr = bytes(bomb_png).find(b"IHDR")
    struct.pack_into(">II", bomb_png, ihdr + 4, 40000, 40000)
    with pytest.raises(UnsupportedImageError, match="exceed"):
        decode_image(bytes(bomb_png))

    # dims claiming LESS than the stream inflates to -> bounded inflate
    # stops at expected+1 and reports the mismatch, never over-allocates
    small_dims = bytearray(encode_png(4, 4, 1, bytes(16)))
    ihdr = bytes(small_dims).find(b"IHDR")
    struct.pack_into(">II", small_dims, ihdr + 4, 2, 2)
    with pytest.raises(UnsupportedImageError, match="mismatch"):
        decode_image(bytes(small_dims))


def test_null_payload_rows_survive_decode_stage(spark):
    """A NULL payload cell emits a 'missing' row instead of killing
    the Arrow batch (r05 review pass 2)."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        decode_image_features,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )
    good = encode_jpeg_gray(8, 8, _blocky(4, 8, 8))
    out = {
        r["doc_id"]: r
        for r in decode_image_features(
            spark.createDataFrame([(1, None), (2, good)], schema)
        ).collect()
    }
    assert out[1]["fmt"] == "missing" and out[1]["pixel_sum"] is None
    assert out[2]["fmt"] == "jpeg" and out[2]["pixel_sum"] is not None


def test_progressive_encoder_roundtrip():
    """The in-repo SOF2 encoder (DC scan + AC band scan with EOB runs)
    must round-trip bit-exactly on constant 8x8 blocks through the
    progressive decode path, and within IDCT rounding (<= 1) on a
    gradient that exercises nonzero AC coefficients, ZRL-free runs and
    cross-block EOB accumulation."""
    from swisscourtrulingcorpus_spark.extraction.jpegcodec import (
        decode_jpeg,
        encode_jpeg_gray_progressive,
    )

    for d in (0, 7, 42, 311):
        w, h = d % 21 + 4, d % 13 + 4
        px = [
            (3 * d + 11 * (x // 8) + 17 * (y // 8)) % 256
            for y in range(h)
            for x in range(w)
        ]
        gw, gh, nch, out = decode_jpeg(encode_jpeg_gray_progressive(w, h, px))
        assert (gw, gh, nch) == (w, h, 1)
        assert list(out) == px

    w = h = 16
    px = [(x * 7 + y * 13) % 256 for y in range(h) for x in range(w)]
    _, _, _, out = decode_jpeg(encode_jpeg_gray_progressive(w, h, px))
    assert max(abs(a - b) for a, b in zip(px, out)) <= 1


def test_fixture_ids_spreads_single_partition_input(spark):
    """The shared fixture stage must spread an under-parallel input's
    ids across the session's cores (the single-row-group bench layout
    serialized every decode on one task, r11), must NOT add an exchange
    when the input is already at least that wide, and must never change
    the id multiset."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        _payload_fixture,
        _text_neardup_payload,
    )

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 500).coalesce(1).withColumnRenamed("id", "doc_id")
    spread = _payload_fixture(narrow, "doc_id", _text_neardup_payload)
    assert spread.rdd.getNumPartitions() == target
    assert sorted(r.doc_id for r in spread.collect()) == list(range(500))

    wide = spark.range(0, 500, 1, target).withColumnRenamed("id", "doc_id")
    kept = _payload_fixture(wide, "doc_id", _text_neardup_payload)
    assert kept.rdd.getNumPartitions() == target
    assert "Exchange" not in kept._jdf.queryExecution().executedPlan().toString()
