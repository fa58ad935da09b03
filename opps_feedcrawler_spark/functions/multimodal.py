"""Image column plumbing: images as opaque binary columns with typed
metadata, processed through mapInPandas (training-data pipeline plane),
plus the codec-free helper a crawl path calls (``sniff_mime``).

The Spark-side plumbing is REAL and tested — schema, Arrow batch shape,
partition-preserving mapInPandas. Codec status per format:

- **PNG: REAL.** ``parse_png_meta`` is a stdlib-only structural parser
  (8-byte signature, chunk walk, IHDR field extraction, CRC-32
  verification via zlib.crc32) and ``encode_png`` a minimal real encoder
  (grayscale-8, zlib-deflated filtered scanlines) used by tests and the
  driver fixture. No image library needed — width/height/bit-depth are
  plain big-endian bytes at fixed offsets (PNG spec, RFC 2083 §4.1.1).
- **JPEG metadata: REAL.** ``parse_jpeg_meta`` is a stdlib-only marker
  walker (ITU T.81 segment syntax: SOI, length-prefixed segments, SOFn
  frame-header field extraction, APP1 Exif orientation) and
  ``encode_jpeg`` a minimal structurally-valid JFIF writer
  (APP0/DQT/SOF0/DHT/SOS with byte-stuffed entropy payload) used by
  tests and the driver fixture. Dimension extraction from SOFn is exactly
  what PIL does for ``Image.size`` — no entropy decode needed.
- **PNG pixels: REAL.** ``decode_png_pixels`` zlib-inflates IDAT and
  applies the full RFC 2083 unfilter set (None/Sub/Up/Average/Paeth,
  byte-exact) for 8- and 16-bit gray/RGB/GA/RGBA; ``resize_png`` does real
  nearest-neighbor thumbnails (decode → resample → re-encode).
- **GIF: REAL** (``functions/gifcodec.py``): GIF89a block walk (frame
  counting, GCE delay summation), variable-width LSB-first LZW decode
  AND encode (width bumps, CLEAR resets, KwKwK), nearest-neighbor
  resize. The pixel decoder returns one channel: the palette's RED
  channel per index, so a color GIF decodes to its red plane only;
  grayscale palettes (R = G = B, what ``encode_gif`` writes) are exact.

There is no JPEG pixel decoder and no audio or video decoder: a JPEG's
header is parsed (``"jpeg"`` metadata, EXIF orientation) but its entropy
stream is not, so its pixel-stats row is the all-zero quarantine row of
any format without a pixel decoder; ``sniff_mime`` still labels WAV
bodies ``audio/wav``, and nothing downstream decodes them.

Design for 100 TB of media: binaries never pass through a shuffle — the
decode/feature stage is mapInPandas (narrow, partition-local), metadata-only
columns flow onward, and Arrow batch size is bounded by
spark.sql.execution.arrow.maxRecordsPerBatch (session.py) so a batch of
large blobs cannot blow Python-worker memory.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

IMAGE_META_SCHEMA = (
    "url string, n_bytes long, format string, width int, height int, "
    "n_frames int, sample_hash long"
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(
    width: int,
    height: int,
    payload: bytes,
    bit_depth: int = 8,
    color_type: int = 0,
) -> bytes:
    """REAL minimal PNG encoder (stdlib only): truecolor/grayscale at bit
    depth 8 or 16, one IDAT. ``payload`` supplies the sample bytes
    row-major — for depth 16 that is TWO bytes per sample, big-endian
    (RFC 2083 §2.3: sample values are network byte order), for color
    types with >1 channel the channels are interleaved per pixel. Short
    payloads are zero-padded; each scanline gets filter byte 0 (None).
    The output is a spec-valid PNG — correct signature, IHDR with
    big-endian dimensions, zlib-deflated image data, CRC-32 on every
    chunk — independently checkable by any PNG reader."""
    if width <= 0 or height <= 0:
        raise ValueError("PNG dimensions must be positive")
    if bit_depth not in (8, 16):
        raise ValueError("encode_png supports bit depth 8 or 16")
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    stride = width * _PNG_CHANNELS[color_type] * (bit_depth // 8)
    ihdr = struct.pack(
        ">IIBBBBB", width, height, bit_depth, color_type, 0, 0, 0
    )
    raw = b"".join(
        b"\x00" + payload[r * stride : (r + 1) * stride].ljust(stride, b"\x00")
        for r in range(height)
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_palette(
    width: int, height: int, indices: bytes, palette: bytes, bit_depth: int = 8
) -> bytes:
    """REAL paletted PNG encoder (stdlib+numpy only): color type 3 with a
    PLTE chunk (flat RGB triples) and per-scanline MSB-first bit-packed
    indices at bit depth 1/2/4/8 (packing never crosses rows, RFC 2083
    §2.3). ``indices`` supplies one palette index per pixel row-major
    (short input zero-padded); filter byte 0 per scanline. Spec-valid and
    CRC'd like encode_png."""
    import numpy as np

    if width <= 0 or height <= 0:
        raise ValueError("PNG dimensions must be positive")
    if bit_depth not in (1, 2, 4, 8):
        raise ValueError("palette bit depth must be 1/2/4/8")
    if len(palette) % 3 or not palette:
        raise ValueError("palette must be non-empty flat RGB triples")
    idx = np.frombuffer(
        indices[: width * height].ljust(width * height, b"\x00"), dtype=np.uint8
    ).reshape(height, width)
    if int(idx.max(initial=0)) >= len(palette) // 3:
        raise ValueError("palette index out of range")
    if bit_depth == 8:
        lines = [idx[r].tobytes() for r in range(height)]
    else:
        per = 8 // bit_depth
        bits = (
            np.unpackbits(idx.reshape(height, width, 1), axis=2)[
                :, :, 8 - bit_depth :
            ]
        ).reshape(height, width * bit_depth)
        lines = [np.packbits(bits[r]).tobytes() for r in range(height)]
        assert all(len(ln) == (width + per - 1) // per for ln in lines)
    raw = b"".join(b"\x00" + ln for ln in lines)
    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, 3, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", palette)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_adam7(width: int, height: int, payload: bytes) -> bytes:
    """REAL Adam7-interlaced grayscale-8 PNG encoder (stdlib+numpy only):
    the image is split into the seven RFC 2083 §2.6 passes (each pass a
    standalone filtered sub-image, empty passes omitted), concatenated,
    and deflated into one IDAT; IHDR declares interlace method 1.
    Decoding must reassemble exactly the row-major ``payload`` image —
    the lossless-subspace property the formula oracle checks."""
    import numpy as np

    if width <= 0 or height <= 0:
        raise ValueError("PNG dimensions must be positive")
    img = np.frombuffer(
        payload[: width * height].ljust(width * height, b"\x00"), dtype=np.uint8
    ).reshape(height, width)
    raw = bytearray()
    for x0, y0, xs, ys in _ADAM7:
        sub = img[y0::ys, x0::xs]
        for r in range(sub.shape[0]):
            if sub.shape[1] > 0:
                raw += b"\x00" + sub[r].tobytes()
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 1)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def parse_png_meta(blob: bytes) -> dict:
    """REAL PNG structural parser (stdlib only): validates the 8-byte
    signature, requires IHDR as the first chunk (per spec), extracts
    width/height/bit-depth/color-type from their fixed big-endian offsets,
    and verifies the IHDR CRC-32. Raises ValueError on malformed input —
    truncation, bad signature, wrong first chunk, or CRC mismatch."""
    if len(blob) < 33 or blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature or truncated")
    length, ctype = struct.unpack(">I4s", blob[8:16])
    if ctype != b"IHDR" or length != 13:
        raise ValueError("not a PNG: first chunk is not a 13-byte IHDR")
    data = blob[16:29]
    (crc,) = struct.unpack(">I", blob[29:33])
    if zlib.crc32(b"IHDR" + data) & 0xFFFFFFFF != crc:
        raise ValueError("PNG IHDR CRC mismatch")
    width, height, bit_depth, color_type = struct.unpack(">IIBB", data[:10])
    return {
        "width": width,
        "height": height,
        "bit_depth": bit_depth,
        "color_type": color_type,
    }


# ITU T.81 Annex K.1 example luminance quantization table (public spec).
_JPEG_STD_LUMA_DQT = bytes(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ]
)

#: SOFn markers carrying a frame header (T.81 Table B.1): C0-C3, C5-C7,
#: C9-CB, CD-CF — i.e. every 0xCn except DHT (C4), JPG (C8), DAC (CC).
_JPEG_SOF_MARKERS = frozenset(
    m for m in range(0xC0, 0xD0) if m not in (0xC4, 0xC8, 0xCC)
)


def _jpeg_segment(marker: int, data: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(data) + 2) + data


def encode_jpeg(width: int, height: int, payload: bytes) -> bytes:
    """REAL minimal JFIF writer (stdlib only): SOI, APP0 (JFIF 1.1), DQT
    (T.81 Annex K luminance table), baseline SOF0 with big-endian
    dimensions and one grayscale component, a minimal DHT, SOS, the
    ``payload`` as byte-stuffed entropy data (0xFF -> 0xFF 0x00 per
    B.1.1.5 so no byte sequence aliases a marker), EOI. Every segment is
    structurally valid per the marker syntax, so any JPEG header parser
    (PIL, exiftool, this module's parse_jpeg_meta) extracts the same
    dimensions; only the entropy stream is synthetic."""
    if not (0 < width <= 0xFFFF and 0 < height <= 0xFFFF):
        raise ValueError("JPEG dimensions must be in 1..65535")
    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    dqt = b"\x00" + _JPEG_STD_LUMA_DQT
    sof0 = struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    # one DC table with a single 2-bit code for symbol 0
    dht = b"\x00" + bytes([0, 1] + [0] * 14) + b"\x00"
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    stuffed = payload.replace(b"\xff", b"\xff\x00")
    return (
        b"\xff\xd8"
        + _jpeg_segment(0xE0, app0)
        + _jpeg_segment(0xDB, dqt)
        + _jpeg_segment(0xC0, sof0)
        + _jpeg_segment(0xC4, dht)
        + _jpeg_segment(0xDA, sos)
        + stuffed
        + b"\xff\xd9"
    )


def encode_app1_exif(orientation: int, byte_order: str = "II") -> bytes:
    """Build a minimal spec-shaped APP1 Exif segment (marker + length +
    'Exif\\0\\0' + TIFF header + one-entry IFD0 carrying Orientation,
    tag 0x0112 SHORT) in either byte order — the fixture twin of
    _parse_exif_orientation, layout per the public TIFF 6.0 / Exif 2.x
    structure."""
    if byte_order not in ("II", "MM"):
        raise ValueError("byte_order must be 'II' or 'MM'")
    if not 1 <= orientation <= 8:
        raise ValueError("orientation must be 1..8")
    bo = "<" if byte_order == "II" else ">"
    tiff = (
        byte_order.encode()
        + struct.pack(bo + "HI", 42, 8)            # magic, IFD0 at byte 8
        + struct.pack(bo + "H", 1)                 # one IFD entry
        + struct.pack(bo + "HHI", 0x0112, 3, 1)    # Orientation, SHORT, x1
        + struct.pack(bo + "H", orientation) + b"\x00\x00"
        + struct.pack(bo + "I", 0)                 # no next IFD
    )
    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


JPEG_EXIF_SCHEMA = (
    "url string, width int, height int, orientation int, progressive boolean"
)


def jpeg_exif_metadata(
    df: DataFrame, url_col: str = "url", bin_col: str = "blob"
) -> DataFrame:
    """mapInPandas EXIF stage: JPEG blobs in, (dims, EXIF orientation,
    progressive flag) out — the pre-pixel routing pass a crawl corpus
    runs before any image transform (orientation must be applied before
    pixels mean anything; progressive informs decode cost). Orientation
    defaults to 1 (top-left) when the file carries no EXIF, per every
    consumer's convention. Same narrow no-blob-shuffle shape as
    image_metadata; malformed blobs quarantine as zero rows with
    orientation 0."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for b in pdf[bin_col]:
                try:
                    # bytes(None) raises TypeError — a NULL blob (failed
                    # fetch) is routine crawl input and quarantines like
                    # any other malformed row, never a stage failure
                    m = parse_jpeg_meta(bytes(b))
                    rows.append(
                        {
                            "width": m["width"],
                            "height": m["height"],
                            "orientation": m["exif_orientation"] or 1,
                            "progressive": m["progressive"],
                        }
                    )
                except (ValueError, TypeError):
                    rows.append(
                        {"width": 0, "height": 0, "orientation": 0,
                         "progressive": False}
                    )
            out = pd.DataFrame(rows)
            out.insert(0, "url", pdf[url_col].values)
            yield out

    return df.mapInPandas(_decode, JPEG_EXIF_SCHEMA)


def _parse_exif_orientation(payload: bytes) -> int | None:
    """Orientation (tag 0x0112) from an APP1 Exif payload: TIFF header
    (II/MM byte order, magic 42, IFD0 offset) then a 12-byte-entry IFD0
    walk. Returns 1..8, or None when absent/defective — EXIF is
    best-effort metadata on a crawl corpus, never a parse failure."""
    if not payload.startswith(b"Exif\x00\x00"):
        return None
    t = payload[6:]
    if len(t) < 14:
        return None
    if t[:2] == b"II":
        bo = "<"
    elif t[:2] == b"MM":
        bo = ">"
    else:
        return None
    try:
        magic, ifd0 = struct.unpack(bo + "HI", t[2:8])
        if magic != 42 or ifd0 + 2 > len(t):
            return None
        (count,) = struct.unpack(bo + "H", t[ifd0 : ifd0 + 2])
        for e in range(count):
            off = ifd0 + 2 + 12 * e
            if off + 12 > len(t):
                return None
            tag, typ, n_vals = struct.unpack(bo + "HHI", t[off : off + 8])
            if tag == 0x0112 and typ == 3 and n_vals == 1:
                (v,) = struct.unpack(bo + "H", t[off + 8 : off + 10])
                return v if 1 <= v <= 8 else None
    except struct.error:
        return None
    return None


def parse_jpeg_meta(blob: bytes) -> dict:
    """REAL JPEG structural parser (stdlib only): walks the T.81 marker
    stream from SOI — skipping fill bytes, standalone markers (TEM,
    RSTn) and length-prefixed segments — to the first SOFn frame header
    and extracts precision/height/width/component-count from their fixed
    big-endian offsets within it (B.2.2), plus the EXIF Orientation tag
    from any APP1 Exif segment seen on the way (the field every crawled
    phone photo needs applied before its pixels mean anything). This is
    the same header-only extraction image libraries perform for
    ``.size``; no entropy decode is attempted. Raises ValueError on
    malformed input: missing SOI, segment overrun, SOS or EOI before any
    SOF, or truncation."""
    n = len(blob)
    if n < 4 or blob[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    i = 2
    exif_orientation = None
    while i + 2 <= n:
        if blob[i] != 0xFF:
            raise ValueError(f"JPEG marker expected at offset {i}")
        j = i
        while j + 1 < n and blob[j + 1] == 0xFF:  # fill bytes (B.1.1.2)
            j += 1
        if j + 1 >= n:
            break
        marker = blob[j + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:  # TEM/RSTn/SOI: bare
            i = j + 2
            continue
        if marker == 0xD9:  # EOI
            break
        if j + 4 > n:
            break
        (seglen,) = struct.unpack(">H", blob[j + 2 : j + 4])
        if seglen < 2 or j + 2 + seglen > n:
            raise ValueError("JPEG segment overruns blob")
        if marker == 0xE1 and exif_orientation is None:
            exif_orientation = _parse_exif_orientation(
                blob[j + 4 : j + 2 + seglen]
            )
        if marker in _JPEG_SOF_MARKERS:
            if seglen < 8:
                raise ValueError("JPEG SOF segment too short")
            precision = blob[j + 4]
            height, width = struct.unpack(">HH", blob[j + 5 : j + 9])
            return {
                "width": width,
                "height": height,
                "precision": precision,
                "n_components": blob[j + 9],
                "progressive": marker == 0xC2,
                "exif_orientation": exif_orientation,
            }
        if marker == 0xDA:
            raise ValueError("JPEG SOS reached before any SOF frame header")
        i = j + 2 + seglen
    raise ValueError("JPEG truncated before SOF")


def decode_image_meta(blob: bytes) -> dict:
    """Image metadata decode. PNG, JPEG and GIF are REAL (parse_png_meta —
    structural parse with CRC check; parse_jpeg_meta — T.81 marker walk
    to SOFn; parse_gif_meta — block walk); unknown formats fall back to a
    deterministic declared STUB (a real deployment replaces the fallback
    with PIL.Image.open(...)).

    A blob that *sniffs* as PNG/JPEG/GIF but fails its structural parse is
    reported as format "invalid" with zero dimensions instead of raising:
    on a crawl corpus, truncated and mislabeled media are routine and one
    bad blob must not fail a 100 TB stage — the row-level error surface
    (format column) lets the pipeline filter or quarantine them."""
    n = len(blob)
    h = int.from_bytes(blob[:8].ljust(8, b"\0"), "little")
    sniffed = None
    if blob[:8] == _PNG_SIG:
        sniffed = ("png", parse_png_meta)
    elif blob[:2] == b"\xff\xd8":
        sniffed = ("jpeg", parse_jpeg_meta)
    elif blob[:4] == b"GIF8":
        from .gifcodec import parse_gif_meta

        sniffed = ("gif", parse_gif_meta)
    if sniffed is not None:
        fmt, parser = sniffed
        try:
            meta = parser(blob)
        except ValueError:
            return {
                "n_bytes": n,
                "format": "invalid",
                "width": 0,
                "height": 0,
                "n_frames": 0,
                "sample_hash": (h % (1 << 62)),
            }
        return {
            "n_bytes": n,
            "format": fmt,
            "width": meta["width"],
            "height": meta["height"],
            "n_frames": meta.get("n_frames", 1),
            "sample_hash": (h % (1 << 62)),
        }
    # deterministic pseudo-dimensions derived from content, not random
    return {
        "n_bytes": n,
        "format": "unknown",
        "width": 16 + (n % 640),
        "height": 16 + ((n * 7) % 480),
        "n_frames": 1,
        "sample_hash": (h % (1 << 62)),
    }


_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color_type -> samples/pixel

#: Adam7 pass origins/strides (RFC 2083 §2.6): (xstart, ystart, xstep, ystep)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, pos: int, hgt: int, stride: int, fdist: int):
    """Unfilter ``hgt`` scanlines of ``stride`` bytes starting at
    raw[pos] — the full RFC 2083 §6 set (None/Sub/Up/Average/Paeth,
    byte-exact integer arithmetic). ``fdist`` is the filter's left-pixel
    byte distance (bytes-per-pixel, min 1 for sub-byte depths). Returns
    ((hgt, stride) uint8 ndarray, position after the region)."""
    import numpy as np

    end = pos + hgt * (1 + stride)
    if end > len(raw):
        raise ValueError("PNG pixel data length mismatch")
    out = np.empty((hgt, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(hgt):
        line = raw[pos + r * (1 + stride) : pos + (r + 1) * (1 + stride)]
        filt, data = line[0], np.frombuffer(line[1:], dtype=np.uint8).copy()
        if filt == 0:
            cur = data
        elif filt == 2:  # Up
            cur = data + prev
        elif filt in (1, 3, 4):  # Sub / Average / Paeth need a left scan
            cur = data
            ints = cur.astype(np.int32)
            pints = prev.astype(np.int32)
            for i in range(stride):
                a = int(cur[i - fdist]) if i >= fdist else 0
                b = int(pints[i]) if filt != 1 else 0
                if filt == 1:
                    cur[i] = (ints[i] + a) & 0xFF
                elif filt == 3:
                    cur[i] = (ints[i] + (a + b) // 2) & 0xFF
                else:  # Paeth
                    c = int(prev[i - fdist]) if i >= fdist else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[i] = (ints[i] + pred) & 0xFF
                ints[i] = cur[i]
        else:
            raise ValueError(f"unknown PNG filter {filt}")
        out[r] = cur
        prev = out[r]
    return out, end


def _png_unpack_samples(arr, w: int, samples: int, bit_depth: int):
    """(h, stride) filtered-out bytes -> (h, w, samples) sample values.
    Sub-byte depths unpack MSB-first per scanline (packing never crosses
    rows, RFC 2083 §2.3); values are raw sample codes, not yet scaled."""
    import numpy as np

    h = arr.shape[0]
    if bit_depth == 8:
        return arr[:, : w * samples].reshape(h, w, samples)
    if bit_depth == 16:
        # 2-byte big-endian samples (RFC 2083 §2.3 network byte order)
        pairs = arr[:, : w * samples * 2].reshape(h, w * samples, 2)
        vals = (pairs[:, :, 0].astype(np.uint16) << 8) | pairs[:, :, 1]
        return vals.reshape(h, w, samples)
    bits = np.unpackbits(arr, axis=1)[:, : w * samples * bit_depth]
    weights = 1 << np.arange(bit_depth - 1, -1, -1, dtype=np.uint16)
    vals = (
        bits.reshape(h, w * samples, bit_depth).astype(np.uint16) * weights
    ).sum(axis=2)
    return vals.astype(np.uint8).reshape(h, w, samples)


def decode_png_pixels(blob: bytes):
    """REAL PNG pixel decode (stdlib+numpy only): walks chunks collecting
    IDAT (plus PLTE for paletted images), zlib-inflates the filtered
    stream, and unfilters with the full RFC 2083 §6 set. Coverage:
    grayscale at bit depth 1/2/4/8 (sub-byte samples scaled to 8-bit by
    the exact 255/(2^d-1) integer factor), 8-bit RGB/gray+alpha/RGBA,
    and paletted (color type 3) at bit depth 1/2/4/8 resolved through
    PLTE to RGB — both progressive (Adam7, RFC 2083 §2.6: seven
    independently-filtered sub-images scattered back by pass origin and
    stride) and non-interlaced. 16-bit gray/RGB/GA/RGBA decode too:
    2-byte big-endian samples through the same unfilter (filtering is
    byte-wise regardless of depth; fdist = samples*2 bytes). Returns a
    (height, width, channels) ndarray — uint8 for depths <= 8, uint16
    for depth 16 (sample values preserved, not rescaled). Malformed
    input raises ValueError."""
    import numpy as np

    meta = parse_png_meta(blob)
    bit_depth, color_type = meta["bit_depth"], meta["color_type"]
    if color_type in (2, 4, 6) and bit_depth not in (8, 16):
        raise ValueError("invalid bit depth for PNG color type")
    if color_type == 3 and bit_depth == 16:
        raise ValueError("invalid bit depth for PNG color type")
    if color_type == 0 and bit_depth not in (1, 2, 4, 8, 16):
        raise ValueError("invalid bit depth for PNG color type")
    interlace = blob[28]  # IHDR data byte 12 (16 + 12)
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    w, hgt = meta["width"], meta["height"]
    pos, idat, plte = 8, b"", None
    while pos + 8 <= len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        ctype = blob[pos + 4 : pos + 8]
        if ctype == b"IDAT":
            idat += blob[pos + 8 : pos + 8 + length]
        elif ctype == b"PLTE":
            plte = blob[pos + 8 : pos + 8 + length]
        if ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    samples = 1 if color_type == 3 else _PNG_CHANNELS[color_type]
    bits_pp = samples * bit_depth
    fdist = max(1, bits_pp // 8)

    # the filtered-stream size is a pure function of the IHDR fields —
    # compute it BEFORE inflating so corrupt deflate data surfaces as the
    # contractual ValueError (zlib.error must not escape) and the inflate
    # is capped at expected+1 rather than trusting the stream to stop
    def _stride(rw: int) -> int:
        return (rw * bits_pp + 7) // 8

    if interlace == 0:
        expected = hgt * (1 + _stride(w))
    else:
        expected = sum(
            ph * (1 + _stride(pw))
            for x0, y0, xs, ys in _ADAM7
            for pw, ph in [((w - x0 + xs - 1) // xs, (hgt - y0 + ys - 1) // ys)]
            if pw > 0 and ph > 0
        )
    d = zlib.decompressobj()
    try:
        raw = d.decompress(idat, expected + 1)
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT stream corrupt: {exc}") from None
    if len(raw) != expected or not d.eof:
        raise ValueError("PNG pixel data length mismatch")

    def region(p: int, rw: int, rh: int):
        stride = (rw * bits_pp + 7) // 8
        arr, p = _png_unfilter(raw, p, rh, stride, fdist)
        return _png_unpack_samples(arr, rw, samples, bit_depth), p

    if interlace == 0:
        mat, p = region(0, w, hgt)
    else:
        mat = np.zeros(
            (hgt, w, samples),
            dtype=np.uint16 if bit_depth == 16 else np.uint8,
        )
        p = 0
        for x0, y0, xs, ys in _ADAM7:
            pw = (w - x0 + xs - 1) // xs
            ph = (hgt - y0 + ys - 1) // ys
            if pw <= 0 or ph <= 0:
                continue
            sub, p = region(p, pw, ph)
            mat[y0::ys, x0::xs] = sub
    if p != len(raw):
        raise ValueError("PNG pixel data length mismatch")

    if color_type == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("paletted PNG missing a valid PLTE chunk")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = mat[:, :, 0]
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("PNG palette index out of range")
        return pal[idx]
    if color_type == 0 and bit_depth < 8:
        return (mat.astype(np.uint16) * (255 // ((1 << bit_depth) - 1))).astype(
            np.uint8
        )
    return mat


def decode_image_pixels(blob: bytes):
    """Pixel decode. PNG is REAL (decode_png_pixels — inflate + full
    unfilter; gray 1/2/4/8/16-bit, paletted, GA/RGB/RGBA at 8 and 16
    bits, Adam7) and GIF first frames are REAL (gifcodec). Output is
    (H, W, C): uint8, or uint16 for 16-bit PNGs. A GIF decodes to
    (H, W, 1) holding the palette's red channel, so a color GIF yields
    its red plane only; grayscale palettes are exact. Every other format
    (JPEG included: only its header is parsed) and interlaced GIFs raise
    NotImplementedError (a real deploy swaps in PIL/libvips)."""
    if blob[:8] == _PNG_SIG:
        return decode_png_pixels(blob)
    if blob[:4] == b"GIF8":
        from .gifcodec import decode_gif_pixels

        return decode_gif_pixels(blob)
    raise NotImplementedError(
        "pixel decode for this format requires PIL/libvips; "
        "not available in this environment"
    )


def resize_png(blob: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor thumbnail resize for every PNG shape the
    decoder produces: decode_png_pixels → numpy index-map resample →
    re-encode with the real encode_png at the SAME sample depth and a
    color type matching the decoded channel count (gray / gray+alpha /
    RGB / RGBA; paletted input decodes to RGB and re-encodes as
    truecolor). 16-bit samples stay 16-bit — encode_png takes big-endian
    2-byte samples per RFC 2083 §2.3, so uint16 planes are byte-swapped
    to network order, never truncated to their low byte."""
    import numpy as np

    if width <= 0 or height <= 0:
        raise ValueError("resize dimensions must be positive")
    px = decode_png_pixels(blob)
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[px.shape[2]]
    src_h, src_w = px.shape[:2]
    rows = (np.arange(height) * src_h) // height
    cols = (np.arange(width) * src_w) // width
    resized = px[rows][:, cols]
    if resized.dtype == np.uint16:
        return encode_png(
            width, height, resized.astype(">u2").tobytes(),
            bit_depth=16, color_type=color_type,
        )
    return encode_png(width, height, resized.tobytes(), color_type=color_type)


PIXEL_STATS_SCHEMA = (
    "url string, width int, height int, n_px long, sum_px long, "
    "min_px int, max_px int"
)


def image_pixel_stats(
    df: DataFrame, url_col: str = "url", bin_col: str = "blob"
) -> DataFrame:
    """mapInPandas REAL-pixel stage: decode_image_pixels per blob (PNG
    inflate+unfilter or GIF LZW+palette lookup), then numpy reductions —
    the shape of any real brightness/NSFW/quality scorer over decoded
    pixels. Narrow, no blob shuffle, Arrow-bounded batches. Strict by
    contract: feed it blobs already routed/validated by image_metadata
    (format not in {unknown, invalid}) — the metadata stage is the
    crawl-corpus quarantine layer; here a parse error is a pipeline bug
    and raises. Declared CAPABILITY limits are different: a JPEG has a
    perfectly valid SOF, so it passes the metadata gate as format 'jpeg'
    (likewise an interlaced GIF as 'gif'), and only the pixel decoder,
    which has no JPEG arm, finds it outside the supported envelope
    (NotImplementedError). Real corpora contain those, so they
    quarantine to an all-zero stats row (n_px = 0 is unreachable for any
    decoded image — the row-level filter) instead of failing a 100 TB
    stage."""
    import numpy as np

    _zero = {
        "width": 0, "height": 0, "n_px": 0,
        "sum_px": 0, "min_px": 0, "max_px": 0,
    }

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for b in pdf[bin_col]:
                try:
                    px = decode_image_pixels(bytes(b))
                except NotImplementedError:
                    rows.append(dict(_zero))
                    continue
                flat = px.reshape(-1).astype(np.int64)
                rows.append(
                    {
                        "width": px.shape[1],
                        "height": px.shape[0],
                        "n_px": int(flat.size),
                        "sum_px": int(flat.sum()),
                        "min_px": int(flat.min()),
                        "max_px": int(flat.max()),
                    }
                )
            out = pd.DataFrame(rows)
            out.insert(0, "url", pdf[url_col].values)
            yield out

    return df.mapInPandas(_stats, PIXEL_STATS_SCHEMA)


def image_metadata(df: DataFrame, url_col: str = "url", bin_col: str = "blob") -> DataFrame:
    """mapInPandas decode stage: binary in, typed metadata out. Narrow
    (no shuffle); batches bounded by the session's Arrow batch size."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [decode_image_meta(bytes(b)) for b in pdf[bin_col]]
            out = pd.DataFrame(metas)
            out.insert(0, "url", pdf[url_col].values)
            yield out

    return df.mapInPandas(_decode, IMAGE_META_SCHEMA)


GIF_META_SCHEMA = (
    "url string, version string, width int, height int, "
    "n_frames int, duration_cs long"
)


def gif_metadata(df: DataFrame, url_col: str = "url", bin_col: str = "blob") -> DataFrame:
    """mapInPandas animated-GIF accounting stage (functions/gifcodec
    block walk): frame count = image descriptors, duration = sum of GCE
    delays — what a crawler needs to budget animated media. Same narrow
    no-blob-shuffle shape as image_metadata; malformed blobs quarantine
    to version='invalid' rows (crawl corpora routinely carry truncated
    media) rather than failing the stage."""
    from .gifcodec import parse_gif_meta

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for b in pdf[bin_col]:
                try:
                    m = parse_gif_meta(bytes(b))
                    rows.append(
                        {
                            "version": m["version"],
                            "width": m["width"],
                            "height": m["height"],
                            "n_frames": m["n_frames"],
                            "duration_cs": m["duration_cs"],
                        }
                    )
                except ValueError:
                    rows.append(
                        {
                            "version": "invalid",
                            "width": 0,
                            "height": 0,
                            "n_frames": 0,
                            "duration_cs": 0,
                        }
                    )
            out = pd.DataFrame(rows)
            out.insert(0, "url", pdf[url_col].values)
            yield out

    return df.mapInPandas(_decode, GIF_META_SCHEMA)


def resize_image(blob: bytes, width: int, height: int) -> bytes:
    """Thumbnail resize. PNG (all decoded shapes, 8- and 16-bit) and GIF
    are REAL (decode → nearest-neighbor resample → re-encode with the
    real encoders); other formats, JPEG included, have no pixel decoder
    here and raise NotImplementedError (same swap point as
    decode_image_pixels)."""
    if blob[:8] == _PNG_SIG:
        return resize_png(blob, width, height)
    if blob[:4] == b"GIF8":
        import numpy as np

        from .gifcodec import decode_gif_pixels, encode_gif

        if width <= 0 or height <= 0:
            raise ValueError("resize dimensions must be positive")
        px = decode_gif_pixels(blob)
        src_h, src_w = px.shape[:2]
        rows = (np.arange(height) * src_h) // height
        cols = (np.arange(width) * src_w) // width
        return encode_gif(width, height, px[rows][:, cols, 0].tobytes())
    raise NotImplementedError(
        "resize for this format requires PIL/libvips; "
        "not available in this environment"
    )


def sniff_mime(blob) -> "Column":
    """Magic-byte content-type sniffing over an opaque binary column —
    the routing step a crawler runs on every fetched body BEFORE parsing
    (Content-Type headers lie; WHATWG MIME-sniffing exists because of
    it). Detects PNG, JPEG and GIF (the image pipeline; a JPEG gets
    header metadata only, no pixel decode), WAV/RIFF (labelled only: no
    audio decoder exists), PDF, gzip, XML/feeds and HTML; everything else
    falls to application/octet-stream.

    Pure JVM expressions: binary signatures compare hex prefixes, the
    text-ish checks decode a bounded 256-byte head as ISO-8859-1 (total —
    every byte maps, so no decode error on binary junk reaching the
    HTML arm). No UDF, no shuffle — stays inside whole-stage codegen, so
    sniffing 100 TB of bodies costs one map pass over bytes already in
    memory for the parse that follows.
    """
    from pyspark.sql import functions as F

    def hexp(n: int):
        return F.hex(F.substring(blob, 1, n))

    # regexp strip, not ltrim: Spark's ltrim removes only ' ' — leading
    # \n\t before <!DOCTYPE is routine in real HTML
    head = F.lower(
        F.regexp_replace(
            F.decode(F.substring(blob, 1, 256), "ISO-8859-1"), r"^\s+", ""
        )
    )
    return (
        F.when(hexp(8) == "89504E470D0A1A0A", F.lit("image/png"))
        .when(hexp(2) == "FFD8", F.lit("image/jpeg"))  # SOI
        .when(hexp(4) == "47494638", F.lit("image/gif"))  # GIF8
        .when(hexp(5) == "255044462D", F.lit("application/pdf"))  # %PDF-
        .when(
            (hexp(4) == "52494646")  # RIFF
            & (F.hex(F.substring(blob, 9, 4)) == "57415645"),  # WAVE
            F.lit("audio/wav"),
        )
        .when(hexp(2) == "1F8B", F.lit("application/gzip"))
        .when(head.startswith("<?xml"), F.lit("application/xml"))
        .when(
            head.startswith("<!doctype html") | head.startswith("<html"),
            F.lit("text/html"),
        )
        .otherwise(F.lit("application/octet-stream"))
    )
