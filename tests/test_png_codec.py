"""Golden tests for the REAL PNG codec (functions/multimodal.py).

The parser is validated against a HAND-SPELLED PNG byte literal (every
byte written out below from the PNG spec, not produced by encode_png), so
parser correctness does not depend on the encoder — and vice versa the
encoder is checked field-by-field against spec offsets plus a zlib
round-trip of its IDAT. This is the independence the stub-era test
lacked."""

from __future__ import annotations

import struct
import zlib

import pytest

from opps_feedcrawler_spark.functions.multimodal import (
    decode_image_meta,
    encode_png,
    parse_png_meta,
)

# A 2x1 grayscale-8 PNG spelled byte-for-byte from the spec:
#   signature, IHDR(len=13, w=2, h=1, depth=8, color=0), IDAT holding the
#   zlib stream of b"\x00\xAB\xCD" (filter 0 + two pixels), IEND.
# CRCs computed here with zlib.crc32 over (type || data) per RFC 2083 —
# the same definition the parser must implement.
_IHDR_DATA = b"\x00\x00\x00\x02\x00\x00\x00\x01\x08\x00\x00\x00\x00"
_IDAT_DATA = zlib.compress(b"\x00\xab\xcd")
HAND_PNG = (
    b"\x89PNG\r\n\x1a\n"
    + b"\x00\x00\x00\x0d" + b"IHDR" + _IHDR_DATA
    + struct.pack(">I", zlib.crc32(b"IHDR" + _IHDR_DATA))
    + struct.pack(">I", len(_IDAT_DATA)) + b"IDAT" + _IDAT_DATA
    + struct.pack(">I", zlib.crc32(b"IDAT" + _IDAT_DATA))
    + b"\x00\x00\x00\x00" + b"IEND"
    + struct.pack(">I", zlib.crc32(b"IEND"))
)


def test_parser_on_hand_spelled_png():
    meta = parse_png_meta(HAND_PNG)
    assert meta == {"width": 2, "height": 1, "bit_depth": 8, "color_type": 0}


def test_parser_rejects_malformed():
    with pytest.raises(ValueError):
        parse_png_meta(b"\xff\xd8not a png")
    with pytest.raises(ValueError):
        parse_png_meta(HAND_PNG[:20])  # truncated inside IHDR
    # flip one IHDR byte -> CRC must catch it
    corrupt = bytearray(HAND_PNG)
    corrupt[18] ^= 0x01  # width byte
    with pytest.raises(ValueError, match="CRC"):
        parse_png_meta(bytes(corrupt))
    # non-IHDR first chunk
    swapped = HAND_PNG[:12] + b"IDAT" + HAND_PNG[16:]
    with pytest.raises(ValueError, match="IHDR"):
        parse_png_meta(swapped)


def test_encoder_fields_at_spec_offsets():
    png = encode_png(300, 7, bytes(range(256)) * 9)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    # IHDR length/type then big-endian dims at fixed offsets 16/20
    assert png[8:16] == b"\x00\x00\x00\x0dIHDR"
    assert struct.unpack(">I", png[16:20])[0] == 300
    assert struct.unpack(">I", png[20:24])[0] == 7
    assert png[24] == 8 and png[25] == 0  # depth, grayscale
    assert png.endswith(
        b"\x00\x00\x00\x00IEND" + struct.pack(">I", zlib.crc32(b"IEND"))
    )


def test_encoder_idat_zlib_roundtrip():
    payload = bytes((i * 31) & 0xFF for i in range(12))
    png = encode_png(4, 3, payload)
    # walk to IDAT, decompress, check filtered scanlines reproduce payload
    off = 8
    raw = None
    while off < len(png):
        (length,) = struct.unpack(">I", png[off : off + 4])
        ctype = png[off + 4 : off + 8]
        data = png[off + 8 : off + 8 + length]
        assert struct.unpack(">I", png[off + 8 + length : off + 12 + length])[
            0
        ] == zlib.crc32(ctype + data), "chunk CRC"
        if ctype == b"IDAT":
            raw = zlib.decompress(data)
        off += 12 + length
    assert raw == b"".join(
        b"\x00" + payload[r * 4 : (r + 1) * 4] for r in range(3)
    )


def test_encode_parse_roundtrip_sweep():
    for w, h in [(1, 1), (2, 3), (64, 48), (640, 2)]:
        meta = parse_png_meta(encode_png(w, h, b"\x10" * (w * h)))
        assert (meta["width"], meta["height"]) == (w, h)


def test_decode_image_meta_png_is_real():
    png = encode_png(17, 5, b"\x01" * 85)
    m = decode_image_meta(png)
    assert (m["format"], m["width"], m["height"]) == ("png", 17, 5)
    assert m["n_bytes"] == len(png)
    # non-PNG routes to the real JPEG parser; malformed bytes become an
    # "invalid" row (crawl-scale stages must not raise per-blob)
    bad = decode_image_meta(b"\xff\xd8\xff\xe0rest")
    assert bad["format"] == "invalid" and bad["width"] == 0


def test_fixture_parquet_matches_formula(tmp_path, monkeypatch):
    """The driver fixture's bytes parse back to the formula dims, and the
    file is regenerated deterministically (same bytes) from scratch."""
    import opps_feedcrawler_spark.sources.fixtures as fx

    target = tmp_path / "png-fixture.parquet"
    monkeypatch.setattr(fx, "PNG_FIXTURE_PATH", str(target))
    p1 = fx.ensure_png_fixture()
    import pyarrow.parquet as pq

    t = pq.read_table(p1)
    assert t.num_rows >= 5000
    ids = t.column("doc_id").to_pylist()
    blobs = t.column("png").to_pylist()
    for doc_id, blob in list(zip(ids, blobs))[:50] + [(ids[-1], blobs[-1])]:
        meta = parse_png_meta(blob)
        assert (meta["width"], meta["height"]) == fx.png_dims(doc_id)
    data1 = target.read_bytes()
    target.unlink()
    fx.ensure_png_fixture()
    assert target.read_bytes() == data1


# ---------------------------------------------------------------------------
# REAL pixel decode (decode_png_pixels): validated against a test-local
# FORWARD filter implementation — the test filters known pixels per RFC
# 2083 §6, wraps them in a spec-valid PNG, and requires the decoder to
# recover the original pixels exactly. Decoder and test share no code.
# ---------------------------------------------------------------------------

import numpy as np

from opps_feedcrawler_spark.functions.multimodal import (
    decode_png_pixels,
    resize_png,
)


def _forward_filter(px: np.ndarray, filters: list[int]) -> bytes:
    """Test-side PNG filtering (the inverse of what the decoder undoes),
    written directly from the spec's Filt() equations."""
    h, w, ch = px.shape
    stride = w * ch
    flat = px.reshape(h, stride).astype(np.int32)
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        f = filters[r % len(filters)]
        out.append(f)
        for i in range(stride):
            x = int(flat[r, i])
            a = int(flat[r, i - ch]) if i >= ch else 0
            b = int(prev[i])
            c = int(prev[i - ch]) if i >= ch else 0
            if f == 0:
                v = x
            elif f == 1:
                v = x - a
            elif f == 2:
                v = x - b
            elif f == 3:
                v = x - (a + b) // 2
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = x - pred
            out.append(v & 0xFF)
        prev = flat[r]
    return bytes(out)


def _wrap_png(
    w: int, h: int, color_type: int, raw: bytes, bit_depth: int = 8
) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 0)
    idat = zlib.compress(raw)
    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d)
        )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


_CT_CH = {0: 1, 2: 3, 4: 2, 6: 4}


@pytest.mark.parametrize("color_type", [0, 2, 4, 6])
@pytest.mark.parametrize(
    "filters", [[0], [1], [2], [3], [4], [0, 1, 2, 3, 4], [4, 3, 2, 1]]
)
def test_unfilter_recovers_hand_filtered_pixels(color_type, filters):
    ch = _CT_CH[color_type]
    rng = np.random.default_rng(color_type * 31 + sum(filters))
    px = rng.integers(0, 256, size=(7, 5, ch), dtype=np.uint8)
    blob = _wrap_png(5, 7, color_type, _forward_filter(px, filters))
    got = decode_png_pixels(blob)
    assert got.shape == (7, 5, ch)
    assert np.array_equal(got, px)


def test_decode_matches_encoder_roundtrip():
    payload = bytes((i * 97 + 13) & 0xFF for i in range(24 * 11))
    px = decode_png_pixels(encode_png(24, 11, payload))
    assert px.shape == (11, 24, 1)
    assert px.reshape(-1).tobytes() == payload


def test_decode_multiple_idat_chunks():
    # split the filtered stream across two IDAT chunks — spec allows any split
    px = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    raw = _forward_filter(px, [2])
    comp = zlib.compress(raw)
    cut = len(comp) // 2
    ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0)
    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d)
        )
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", comp[:cut])
        + chunk(b"IDAT", comp[cut:])
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png_pixels(blob), px)


def test_decode_rejects_unsupported():
    # 16-bit depth is SUPPORTED now (round 5) — a 1x1 gray16 zero sample
    px = decode_png_pixels(_wrap_png(1, 1, 0, b"\x00\x00\x00", bit_depth=16))
    assert px.dtype == np.uint16 and px.shape == (1, 1, 1) and px[0, 0, 0] == 0
    # ...but 16-bit PALETTE depth is spec-invalid (RFC 2083 §4.1.1)
    with pytest.raises(ValueError):
        decode_png_pixels(_wrap_png(1, 1, 3, b"\x00\x00\x00", bit_depth=16))
    # paletted images are SUPPORTED now (round 4) — but one lacking its
    # mandatory PLTE chunk is malformed, not unsupported
    with pytest.raises(ValueError):
        decode_png_pixels(_wrap_png(1, 1, 3, b"\x00\x05"))


@pytest.mark.parametrize("color_type", [0, 2, 4, 6])
@pytest.mark.parametrize(
    "filters", [[0], [1], [2], [3], [4], [0, 1, 2, 3, 4], [4, 3, 2, 1]]
)
def test_unfilter_recovers_16bit_hand_filtered(color_type, filters):
    """16-bit arm of the hand-filter golden (VERDICT r4 #5): PNG
    filtering is byte-wise, so the test-side filter runs over the
    big-endian BYTE image with left-distance = channels*2; the decoder
    must recover the uint16 samples exactly."""
    ch = _CT_CH[color_type]
    rng = np.random.default_rng(color_type * 131 + sum(filters))
    px = rng.integers(0, 65536, size=(7, 5, ch), dtype=np.uint16)
    bepx = np.frombuffer(px.astype(">u2").tobytes(), np.uint8).reshape(
        7, 5, ch * 2
    )
    blob = _wrap_png(5, 7, color_type, _forward_filter(bepx, filters), 16)
    got = decode_png_pixels(blob)
    assert got.dtype == np.uint16 and got.shape == (7, 5, ch)
    assert np.array_equal(got, px)


def test_16bit_hand_built_golden_bytes():
    # 2x2 gray16, filter 0 rows, samples spelled out by hand big-endian
    raw = (
        b"\x00" + bytes([0x01, 0x02, 0xFF, 0xEE])
        + b"\x00" + bytes([0x80, 0x00, 0x00, 0xFF])
    )
    got = decode_png_pixels(_wrap_png(2, 2, 0, raw, bit_depth=16))
    assert got.dtype == np.uint16
    assert got[:, :, 0].tolist() == [[0x0102, 0xFFEE], [0x8000, 0x00FF]]


def test_16bit_encode_decode_roundtrip():
    from opps_feedcrawler_spark.functions.multimodal import encode_png

    rng = np.random.default_rng(7)
    for color_type, ch in ((0, 1), (2, 3)):
        px = rng.integers(0, 65536, size=(9, 6, ch), dtype=np.uint16)
        blob = encode_png(
            6, 9, px.astype(">u2").tobytes(), bit_depth=16,
            color_type=color_type,
        )
        assert np.array_equal(decode_png_pixels(blob), px)


def test_resize_png_nearest_neighbor():
    payload = bytes(range(16))  # 4x4 gradient
    blob = encode_png(4, 4, payload)
    out = resize_png(blob, 2, 2)
    px = decode_png_pixels(out)
    # nearest-neighbor with floor mapping picks rows/cols 0 and 2
    assert px.reshape(2, 2).tolist() == [[0, 2], [8, 10]]
    # identity resize is lossless
    same = decode_png_pixels(resize_png(blob, 4, 4))
    assert same.reshape(-1).tobytes() == payload


def test_image_pixel_stats_spark(spark):
    from opps_feedcrawler_spark.functions.multimodal import image_pixel_stats

    rows = []
    truths = {}
    for i, (w, h) in enumerate([(3, 2), (1, 1), (64, 48)]):
        payload = bytes(((i + 1) * j * 7 + i) & 0xFF for j in range(w * h))
        rows.append((f"u{i}", encode_png(w, h, payload)))
        arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
        truths[f"u{i}"] = (w, h, arr.size, int(arr.sum()), int(arr.min()), int(arr.max()))
    df = spark.createDataFrame(rows, "url string, blob binary")
    got = {
        r["url"]: (r["width"], r["height"], r["n_px"], r["sum_px"], r["min_px"], r["max_px"])
        for r in image_pixel_stats(df).collect()
    }
    assert got == truths


# ---------------------------------------------------------------------------
# Round 4: paletted + Adam7 progressive (VERDICT r3 #7)
# ---------------------------------------------------------------------------

from opps_feedcrawler_spark.functions.multimodal import (  # noqa: E402
    encode_png_adam7,
    encode_png_palette,
)


def _chunk(t: bytes, d: bytes) -> bytes:
    return struct.pack(">I", len(d)) + t + d + struct.pack(
        ">I", zlib.crc32(t + d)
    )


def test_adam7_hand_built_golden_bytes():
    """Hand-assembled Adam7 pass stream for a 4x4 grayscale image whose
    pixel at (row r, col c) is 16*r + c — every pass's membership and
    ordering written out from RFC 2083 §2.6 by hand, NOT via the
    encoder."""
    # pass 1 (0,0,8,8): (0,0)            -> 0x00
    # pass 2 (4,0,8,8): empty (x0 >= w)
    # pass 3 (0,4,4,8): empty (y0 >= h)
    # pass 4 (2,0,4,4): (0,2)            -> 0x02
    # pass 5 (0,2,2,4): (2,0) (2,2)      -> 0x20 0x22
    # pass 6 (1,0,2,2): (0,1) (0,3) / (2,1) (2,3) -> two scanlines
    # pass 7 (0,1,1,2): rows 1 and 3 in full
    raw = (
        b"\x00\x00"                      # pass 1
        b"\x00\x02"                      # pass 4
        b"\x00\x20\x22"                  # pass 5
        b"\x00\x01\x03" b"\x00\x21\x23"  # pass 6
        b"\x00\x10\x11\x12\x13"          # pass 7 row 1
        b"\x00\x30\x31\x32\x33"          # pass 7 row 3
    )
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1)  # interlace=1
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    got = decode_png_pixels(blob)
    want = np.array(
        [[16 * r + c for c in range(4)] for r in range(4)], dtype=np.uint8
    ).reshape(4, 4, 1)
    assert np.array_equal(got, want)


@pytest.mark.parametrize(
    "w,h", [(1, 1), (2, 3), (7, 5), (8, 8), (13, 11), (64, 48), (3, 9)]
)
def test_adam7_roundtrip_matches_plain(w, h):
    payload = bytes((i * 37 + w) % 256 for i in range(w * h))
    plain = decode_png_pixels(encode_png(w, h, payload))
    inter = decode_png_pixels(encode_png_adam7(w, h, payload))
    assert plain.shape == inter.shape == (h, w, 1)
    assert np.array_equal(plain, inter)
    assert plain.reshape(-1).tobytes() == payload


@pytest.mark.parametrize("bit_depth", [1, 2, 4, 8])
def test_palette_roundtrip_all_depths(bit_depth):
    n_colors = min(16, 1 << bit_depth)
    pal = bytes(
        b
        for j in range(n_colors)
        for b in ((j * 3) % 256, (j * 5 + 1) % 256, (j * 7 + 2) % 256)
    )
    w, h = 10, 7
    idx = bytes((i * 5 + 3) % n_colors for i in range(w * h))
    px = decode_png_pixels(encode_png_palette(w, h, idx, pal, bit_depth))
    assert px.shape == (h, w, 3)
    want = np.array(
        [((j * 3) % 256, (j * 5 + 1) % 256, (j * 7 + 2) % 256) for j in idx],
        dtype=np.uint8,
    ).reshape(h, w, 3)
    assert np.array_equal(px, want)


def test_palette_2bit_hand_built_golden():
    """Hand-packed 2-bit scanlines: width 5 -> 10 bits -> 2 bytes/row
    with 6 pad bits, MSB-first. Row 0 indices (0,1,2,3,0) pack to
    0b00011011 0b00______ = 0x1B 0x00; row 1 (3,2,1,0,3) -> 0xE4 0xC0."""
    pal = bytes(v for j in range(4) for v in (10 * j, 20 * j, 30 * j))
    raw = b"\x00\x1b\x00" + b"\x00\xe4\xc0"
    ihdr = struct.pack(">IIBBBBB", 5, 2, 2, 3, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", pal)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    got = decode_png_pixels(blob)
    idx = [[0, 1, 2, 3, 0], [3, 2, 1, 0, 3]]
    want = np.array(
        [[(10 * j, 20 * j, 30 * j) for j in row] for row in idx],
        dtype=np.uint8,
    )
    assert np.array_equal(got, want)


def test_palette_with_nonzero_filters():
    """Filters apply to the PACKED index bytes (fdist=1 for sub-byte) —
    forward-filter a palette-8 image by hand through Sub/Up/Paeth and
    require exact index recovery through PLTE."""
    rng = np.random.default_rng(7)
    w, h, nc = 6, 5, 8
    idx = rng.integers(0, nc, size=(h, w, 1), dtype=np.uint8)
    pal = bytes(v for j in range(nc) for v in (j * 2, j * 4 + 1, j * 8 + 3))
    raw = _forward_filter(idx, [1, 2, 4, 0, 3])
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", pal)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    got = decode_png_pixels(blob)
    want = np.array(
        [
            [(j * 2, j * 4 + 1, j * 8 + 3) for j in row]
            for row in idx[:, :, 0]
        ],
        dtype=np.uint8,
    )
    assert np.array_equal(got, want)


def test_palette_index_out_of_range_rejected():
    with pytest.raises(ValueError):
        encode_png_palette(2, 1, b"\x00\x05", bytes(9), bit_depth=8)
    # decoder side: valid structure, index beyond PLTE entries
    raw = b"\x00\x05"
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", bytes(9))
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png_pixels(blob)


def test_decode_malformed_raises_valueerror_never_zlib_error():
    """Contract: malformed input raises ValueError — zlib.error from a
    corrupt IDAT stream must not escape (fuzz-found, round 4). Also the
    deterministic seed: flip one IDAT payload byte so inflate fails."""
    from opps_feedcrawler_spark.functions.multimodal import encode_png

    blob = bytearray(encode_png(5, 4, bytes(range(20))))
    idat = blob.find(b"IDAT")
    blob[idat + 8] ^= 0xFF  # corrupt deflate data (past the zlib header)
    with pytest.raises(ValueError):
        decode_png_pixels(bytes(blob))

    # randomized sweep: single-byte mutants + truncations, every failure
    # must be the contractual ValueError/NotImplementedError
    import random

    rng = random.Random(4)
    base = bytes(encode_png(5, 4, bytes(range(20))))
    for _ in range(300):
        mut = bytearray(base)
        mut[rng.randrange(len(mut))] = rng.randrange(256)
        try:
            decode_png_pixels(bytes(mut))
        except (ValueError, NotImplementedError):
            pass
    for cut in range(len(base)):
        try:
            decode_png_pixels(base[:cut])
        except (ValueError, NotImplementedError):
            pass


def test_decode_dimension_bomb_fails_fast():
    """A crafted IHDR claiming 40000x40000 with a 10-byte IDAT must fail
    on the length precheck before allocating header-sized arrays (the
    stream-supplied-counts rule, ADVICE r3)."""
    import struct as _s
    import time

    from opps_feedcrawler_spark.functions.multimodal import _PNG_SIG, _png_chunk

    for interlace in (0, 1):
        ihdr = _s.pack(">II5B", 40000, 40000, 8, 0, 0, 0, interlace)
        bomb = (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
            + _png_chunk(b"IEND", b"")
        )
        t0 = time.monotonic()
        with pytest.raises(ValueError, match="length mismatch"):
            decode_png_pixels(bomb)
        assert time.monotonic() - t0 < 1.0


def test_resize_png_16bit_and_color_preserve_samples():
    """Review r5: 16-bit PNGs decode to uint16, and the old resize arm
    re-encoded the raw 2-byte samples as 8-bit rows (silent corruption);
    color PNGs raised NotImplementedError despite encode_png growing a
    color_type arm. Resize must round-trip exactly at the source depth
    and channel count (filter-0 encode + nearest-neighbor is lossless on
    the picked pixels)."""
    rng = np.random.default_rng(7)
    # 16-bit grayscale: values above 255 must survive
    g16 = rng.integers(0, 65536, (8, 8), dtype=np.uint16)
    blob16 = encode_png(8, 8, g16.astype(">u2").tobytes(), bit_depth=16)
    out = decode_png_pixels(resize_png(blob16, 4, 4))
    assert out.dtype == np.uint16
    exp = g16[(np.arange(4) * 8) // 4][:, (np.arange(4) * 8) // 4]
    assert np.array_equal(out[:, :, 0], exp)
    # 8-bit RGB / RGBA / gray+alpha: channel count round-trips
    for ctype, ch in ((2, 3), (6, 4), (4, 2)):
        px = rng.integers(0, 256, (6, 6, ch), dtype=np.uint8)
        blob = encode_png(6, 6, px.tobytes(), color_type=ctype)
        got = decode_png_pixels(resize_png(blob, 3, 3))
        expc = px[(np.arange(3) * 6) // 3][:, (np.arange(3) * 6) // 3]
        assert got.shape == (3, 3, ch) and np.array_equal(got, expc), ctype
    # 16-bit RGB too (depth x color combined)
    c16 = rng.integers(0, 65536, (4, 4, 3), dtype=np.uint16)
    blob = encode_png(4, 4, c16.astype(">u2").tobytes(), bit_depth=16,
                      color_type=2)
    got = decode_png_pixels(resize_png(blob, 2, 2))
    assert got.dtype == np.uint16
    assert np.array_equal(got, c16[(np.arange(2) * 4) // 2][:, (np.arange(2) * 4) // 2])


def test_multimodal_plumbing(spark):
    from opps_feedcrawler_spark.functions.multimodal import image_metadata

    from opps_feedcrawler_spark.functions.multimodal import encode_png

    png = encode_png(9, 4, b"\x42" * 36)
    df = spark.createDataFrame(
        [("u1", png), ("u2", b"\xff\xd8rest"), ("u3", b"plain")],
        "url string, blob binary",
    )
    rows = {r.url: r for r in image_metadata(df).collect()}
    assert rows["u1"].format == "png"
    assert rows["u3"].format == "unknown"
    assert rows["u1"].n_bytes == len(png)
    # PNG path is the REAL structural parse, not the stub formula
    assert (rows["u1"].width, rows["u1"].height) == (9, 4)
    # a blob that sniffs JPEG but fails the real T.81 parse is quarantined
    # as an "invalid" row — never an exception out of the stage
    assert rows["u2"].format == "invalid"
    assert (rows["u2"].width, rows["u2"].height) == (0, 0)

    from opps_feedcrawler_spark.functions.multimodal import decode_image_pixels

    with pytest.raises(NotImplementedError):
        decode_image_pixels(b"\x89PNG")
