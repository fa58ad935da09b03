"""Golden tests for the REAL JPEG header codec (functions/multimodal.py).

Same independence discipline as test_png_codec: the parser is validated
against a HAND-SPELLED JPEG byte literal (markers written out below from
ITU T.81's segment syntax, not produced by encode_jpeg), and the encoder
is checked field-by-field against the spec offsets its canonical layout
pins — so neither side's correctness depends on the other. There is no
JPEG pixel decoder: a JPEG's pixel-stats row is the quarantine row."""

from __future__ import annotations

import struct

import pytest

from opps_feedcrawler_spark.functions.multimodal import (
    decode_image_meta,
    encode_jpeg,
    parse_jpeg_meta,
)

# A minimal JPEG spelled marker-by-marker: SOI, a COM segment (so the
# walker must SKIP a non-SOF segment by its length), SOF0 for a 640x480
# 8-bit 3-component frame, EOI. Dimensions in SOF are (height, width) BE.
HAND_JPEG = (
    b"\xff\xd8"                                   # SOI
    + b"\xff\xfe" + struct.pack(">H", 2 + 5) + b"hello"   # COM, len 7
    + b"\xff\xc0" + struct.pack(">H", 2 + 15)     # SOF0, len 17
    + bytes([8])                                  # precision
    + struct.pack(">HH", 480, 640)                # height, width
    + bytes([3])                                  # 3 components
    + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])  # component specs
    + b"\xff\xd9"                                 # EOI
)


def test_parser_on_hand_spelled_jpeg():
    meta = parse_jpeg_meta(HAND_JPEG)
    assert meta["width"] == 640
    assert meta["height"] == 480
    assert meta["precision"] == 8
    assert meta["n_components"] == 3
    assert meta["progressive"] is False


def test_parser_progressive_sof2_and_fill_bytes():
    # fill bytes (extra 0xFF) before a SOF2 marker are legal (B.1.1.2)
    blob = (
        b"\xff\xd8"
        + b"\xff\xff\xff\xc2" + struct.pack(">H", 2 + 9)
        + bytes([8]) + struct.pack(">HH", 7, 9) + bytes([1, 1, 0x11, 0])
        + b"\xff\xd9"
    )
    meta = parse_jpeg_meta(blob)
    assert (meta["width"], meta["height"]) == (9, 7)
    assert meta["progressive"] is True


def test_parser_rejects_malformed():
    with pytest.raises(ValueError):
        parse_jpeg_meta(b"\x89PNG\r\n\x1a\nnot a jpeg")
    with pytest.raises(ValueError):
        parse_jpeg_meta(HAND_JPEG[:8])  # truncated inside COM
    # SOS before any SOF frame header
    bad = (
        b"\xff\xd8"
        + b"\xff\xda" + struct.pack(">H", 2 + 6) + bytes([1, 1, 0, 0, 63, 0])
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError):
        parse_jpeg_meta(bad)
    # segment length overruns the blob
    with pytest.raises(ValueError):
        parse_jpeg_meta(b"\xff\xd8" + b"\xff\xfe" + struct.pack(">H", 9999))


class TestEncoderAgainstSpecOffsets:
    def test_canonical_layout_fields(self):
        blob = encode_jpeg(321, 123, b"payload")
        assert blob[:2] == b"\xff\xd8"
        # APP0 at byte 2: FFE0, len 16, "JFIF\0"
        assert blob[2:4] == b"\xff\xe0"
        assert struct.unpack(">H", blob[4:6])[0] == 16
        assert blob[6:11] == b"JFIF\x00"
        # DQT at byte 20 (2 + 18): FFDB, len 67
        assert blob[20:22] == b"\xff\xdb"
        assert struct.unpack(">H", blob[22:24])[0] == 67
        # SOF0 at byte 89 (20 + 69): FFC0; height at 94, width at 96
        assert blob[89:91] == b"\xff\xc0"
        assert struct.unpack(">H", blob[94:96])[0] == 123
        assert struct.unpack(">H", blob[96:98])[0] == 321
        assert blob.endswith(b"\xff\xd9")

    def test_byte_stuffing_keeps_stream_parseable(self):
        # an entropy payload full of 0xFF must not alias a marker: the
        # encoder stuffs 0xFF -> 0xFF 0x00, and the parser still finds
        # SOF (it stops before the entropy stream)
        blob = encode_jpeg(5, 4, b"\xff" * 64)
        meta = parse_jpeg_meta(blob)
        assert (meta["width"], meta["height"]) == (5, 4)
        assert b"\xff\xd8" not in blob[2:-2].replace(b"\xff\x00", b"")[2:]

    def test_roundtrip_sweep(self):
        for w, h in [(1, 1), (65535, 1), (320, 240), (17, 4093)]:
            meta = parse_jpeg_meta(encode_jpeg(w, h, b"x" * 9))
            assert (meta["width"], meta["height"]) == (w, h)

    def test_rejects_bad_dims(self):
        with pytest.raises(ValueError):
            encode_jpeg(0, 5, b"")
        with pytest.raises(ValueError):
            encode_jpeg(5, 70000, b"")


def test_decode_image_meta_dispatches_jpeg_for_real():
    blob = encode_jpeg(64, 32, b"abc")
    meta = decode_image_meta(blob)
    assert meta["format"] == "jpeg"
    # REAL dims from SOF0, not the old n_bytes-derived stub formula
    assert (meta["width"], meta["height"]) == (64, 32)
    assert meta["n_bytes"] == len(blob)


# ---------------------------------------------------------------------------
# EXIF orientation (APP1 / TIFF IFD0) — parsed during the marker walk.
# The hand-spelled segment below is written out field-by-field from the
# public TIFF 6.0 layout, so the parser is not defined by encode_app1_exif.
# ---------------------------------------------------------------------------

from opps_feedcrawler_spark.functions.multimodal import (  # noqa: E402
    encode_app1_exif,
)

# APP1, big-endian (MM) TIFF: magic 42, IFD0 at offset 8, one entry:
# tag 0x0112 (Orientation), type 3 (SHORT), count 1, value 6
# (rotate-90-CW — the classic portrait phone photo).
HAND_APP1 = (
    b"\xff\xe1" + struct.pack(">H", 2 + 6 + 8 + 2 + 12 + 4)
    + b"Exif\x00\x00"
    + b"MM" + struct.pack(">HI", 42, 8)
    + struct.pack(">H", 1)
    + struct.pack(">HHI", 0x0112, 3, 1) + struct.pack(">H", 6) + b"\x00\x00"
    + struct.pack(">I", 0)
)


def test_exif_orientation_hand_spelled_app1():
    blob = encode_jpeg(32, 16, b"pay")
    spliced = blob[:2] + HAND_APP1 + blob[2:]
    meta = parse_jpeg_meta(spliced)
    assert meta["exif_orientation"] == 6
    assert (meta["width"], meta["height"]) == (32, 16)
    # without APP1 the key is None (consumers default to 1)
    assert parse_jpeg_meta(blob)["exif_orientation"] is None


@pytest.mark.parametrize("bo", ["II", "MM"])
def test_exif_orientation_both_byte_orders(bo):
    for orientation in range(1, 9):
        blob = encode_jpeg(8, 8, b"z")
        spliced = blob[:2] + encode_app1_exif(orientation, bo) + blob[2:]
        assert parse_jpeg_meta(spliced)["exif_orientation"] == orientation


def test_exif_defective_segments_yield_none_not_error():
    blob = encode_jpeg(8, 8, b"z")
    good = encode_app1_exif(3, "II")
    # truncated TIFF body, wrong magic, non-Exif APP1, orientation 9 —
    # all best-effort None, never a ValueError
    for app1 in (
        good[:12] + good[12:18],                       # truncated
        good.replace(struct.pack("<H", 42), struct.pack("<H", 43), 1),
        b"\xff\xe1" + struct.pack(">H", 10) + b"XMP\x00abcd",
        encode_jpeg(1, 1, b"")[:0]  # placeholder, replaced below
    )[:3]:
        seg = app1
        # fix the segment length so the walk stays aligned
        seg = seg[:2] + struct.pack(">H", len(seg) - 2) + seg[4:]
        meta = parse_jpeg_meta(blob[:2] + seg + blob[2:])
        assert meta["exif_orientation"] is None
    # tail layout: value SHORT (2) + pad (2) + next-IFD offset (4)
    bad_val = good[:-8] + struct.pack("<H", 9) + good[-6:]
    assert len(bad_val) == len(good)
    meta = parse_jpeg_meta(blob[:2] + bad_val + blob[2:])
    assert meta["exif_orientation"] is None


def test_jpeg_exif_metadata_spark_stage(spark):
    from opps_feedcrawler_spark.functions.multimodal import jpeg_exif_metadata

    b1 = encode_jpeg(24, 8, b"a")
    b1 = b1[:2] + encode_app1_exif(8, "MM") + b1[2:]
    b2 = encode_jpeg(16, 16, b"b")              # no EXIF -> default 1
    b3 = b"\xff\xd8truncated"                   # malformed -> quarantine row
    df = spark.createDataFrame(
        [("u1", b1), ("u2", b2), ("u3", b3)], "url string, blob binary"
    )
    rows = {r.url: r for r in jpeg_exif_metadata(df).collect()}
    assert (rows["u1"].width, rows["u1"].orientation) == (24, 8)
    assert (rows["u2"].width, rows["u2"].orientation) == (16, 1)
    assert (rows["u3"].width, rows["u3"].orientation) == (0, 0)


def test_jpeg_exif_stage_null_blob_quarantines(spark):
    from opps_feedcrawler_spark.functions.multimodal import jpeg_exif_metadata

    df = spark.createDataFrame(
        [("u-null", None), ("u-ok", encode_jpeg(8, 8, b"x"))],
        "url string, blob binary",
    )
    rows = {r.url: r for r in jpeg_exif_metadata(df).collect()}
    assert rows["u-null"].orientation == 0 and rows["u-null"].width == 0
    assert rows["u-ok"].orientation == 1 and rows["u-ok"].width == 8


def test_capability_limited_jpeg_quarantines_in_pixel_stage(spark):
    """A JPEG has a perfectly valid SOF, so decode_image_meta reports
    format='jpeg' and the metadata gate passes it to image_pixel_stats,
    where decode_image_pixels (which has no JPEG arm) raises
    NotImplementedError. The stage must turn that into an all-zero
    quarantine row (n_px = 0, unreachable for any decoded image) next to
    healthy neighbors, never fail."""
    from opps_feedcrawler_spark.functions.multimodal import (
        encode_png,
        image_pixel_stats,
    )

    # SOI + SOF0 declaring 8-bit 8x8 with FOUR components (B.2.2 layout)
    cmyk = (
        b"\xff\xd8\xff\xc0\x00\x14\x08\x00\x08\x00\x08\x04"
        + b"\x01\x11\x00\x02\x11\x00\x03\x11\x00\x04\x11\x00"
        + b"\xff\xd9"
    )
    meta = decode_image_meta(cmyk)
    assert meta["format"] == "jpeg" and meta["width"] == 8  # gate passes it
    ok = encode_png(8, 8, b"\x80" * 64)
    df = spark.createDataFrame(
        [("u-cmyk", cmyk), ("u-ok", ok)], "url string, blob binary"
    )
    rows = {r.url: r for r in image_pixel_stats(df).collect()}
    assert rows["u-cmyk"].n_px == 0 and rows["u-cmyk"].width == 0
    assert rows["u-ok"].n_px == 64 and rows["u-ok"].width == 8
