"""Deterministic binary-column fixtures shared by the Spark queries and
the DuckDB oracle.

The driver's correctness gate compares a Spark query against an ANSI-SQL
oracle over the same tables. The testdata tables carry no binary column,
so the multimodal PNG query materializes one here: a parquet of
(doc_id, png) where the PNG bytes are a pure deterministic function of
doc_id (dimensions and pixel payload below, encoded by the REAL
encode_png — zlib deflate + CRC-32). Both engines then read the SAME
bytes: Spark parses them with parse_png_meta (functions/multimodal.py)
and the oracle parses them independently in SQL (octet_length + hex()
big-endian field extraction) — no shared decode code, which is what
makes the driver row non-circular.

Generation is lazy, idempotent (exists-check) and atomic (tmp +
os.replace): each query callable ensures its own fixture, and
``__spark_entry__.oracle_sql()`` ensures the ones an oracle may read
before its query runs. Importing this module writes nothing. ~5k tiny
PNGs, <1 s, a few MB. Derived only from doc_id ranges of the local testdata
tables — no external data.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np

#: bump when the generative formula changes — the path IS the version
PNG_FIXTURE_PATH = os.path.join(
    tempfile.gettempdir(), "ofs-png-fixture-v1.parquet"
)
JPEG_FIXTURE_PATH = os.path.join(
    tempfile.gettempdir(), "ofs-jpeg-fixture-v1.parquet"
)
GIF_FIXTURE_PATH = os.path.join(
    tempfile.gettempdir(), "ofs-gif-fixture-v1.parquet"
)
PNG_PALETTE_FIXTURE_PATH = os.path.join(
    tempfile.gettempdir(), "ofs-png-palette-fixture-v1.parquet"
)
PNG16_FIXTURE_PATH = os.path.join(
    tempfile.gettempdir(), "ofs-png16-fixture-v1.parquet"
)
JPEG_EXIF_FIXTURE_PATH = os.path.join(
    tempfile.gettempdir(), "ofs-jpeg-exif-fixture-v1.parquet"
)


_TESTDATA_ROOT = "/root/testdata"
_FALLBACK_MAX_DOC_ID = 4999


def png_dims(doc_id: int) -> tuple[int, int]:
    """Fixture dimensions: a pure function of doc_id, chosen to sweep a
    range of non-square shapes (1..64 x 1..48)."""
    return 1 + doc_id % 64, 1 + (doc_id * 7) % 48


def png_payload(doc_id: int, n: int) -> bytes:
    """Fixture pixel bytes: Knuth-hash mixed index stream — deterministic,
    content varies per doc so compressed sizes differ."""
    idx = np.arange(n, dtype=np.uint64)
    return (
        ((np.uint64(doc_id) * np.uint64(2654435761) + idx * np.uint64(40503)))
        .astype(np.uint8)
        .tobytes()
    )


def _max_doc_id() -> int:
    """Largest doc_id across the local testdata scale factors (parquet
    footer metadata only — no full scan); falls back to the known range
    when testdata is absent (e.g. unit tests on a bare checkout)."""
    import glob

    import pyarrow.parquet as pq

    best = -1
    for path in glob.glob(os.path.join(_TESTDATA_ROOT, "sf*", "documents.parquet")):
        try:
            md = pq.ParquetFile(path).metadata
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(0)
                if col.path_in_schema == "doc_id" and col.statistics is not None:
                    best = max(best, int(col.statistics.max))
        except Exception:
            continue
    return best if best >= 0 else _FALLBACK_MAX_DOC_ID


def jpeg_dims(doc_id: int) -> tuple[int, int]:
    """Fixture dimensions for the JPEG leg: sweeps 1..320 x 1..240 with a
    different stride than the PNG fixture so the two blobs never agree by
    coincidence."""
    return 1 + doc_id % 320, 1 + (doc_id * 11) % 240


def ensure_jpeg_fixture() -> str:
    """Create JPEG_FIXTURE_PATH if missing; return the path. One
    structurally-valid baseline JFIF per doc_id (real encode_jpeg —
    T.81 marker syntax, SOF0 dimensions, byte-stuffed entropy payload),
    payload from the shared Knuth-hash stream. The encoder's canonical
    segment order (SOI, APP0=16, DQT=67, SOF0) pins the frame header at a
    fixed offset, which is what lets the DuckDB oracle re-extract
    height/width independently in SQL. Atomic like the PNG path."""
    if os.path.exists(JPEG_FIXTURE_PATH):
        return JPEG_FIXTURE_PATH

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..functions.multimodal import encode_jpeg

    n_docs = _max_doc_id() + 1
    ids, blobs = [], []
    for doc_id in range(n_docs):
        w, h = jpeg_dims(doc_id)
        ids.append(doc_id)
        blobs.append(encode_jpeg(w, h, png_payload(doc_id, 32 + doc_id % 97)))
    table = pa.table(
        {"doc_id": pa.array(ids, type=pa.int64()),
         "jpeg": pa.array(blobs, type=pa.binary())}
    )
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(JPEG_FIXTURE_PATH), suffix=".parquet.tmp"
    )
    os.close(fd)
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, JPEG_FIXTURE_PATH)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return JPEG_FIXTURE_PATH


def gif_dims(doc_id: int) -> tuple[int, int]:
    """GIF pixel-fixture dimensions — a third stride so PNG/JPEG/GIF
    blobs never agree by coincidence."""
    return 1 + doc_id % 50, 1 + (doc_id * 5) % 40


def ensure_gif_fixture() -> str:
    """Create GIF_FIXTURE_PATH if missing; return the path. One REAL
    GIF89a per doc_id (encode_gif — real LZW compression, grayscale
    palette), pixels from the shared Knuth-hash stream. GIF is LOSSLESS,
    so no content restriction is needed: arbitrary formula pixels
    round-trip bit-exactly and the SQL oracle recomputes stats
    straight from the formula. Atomic."""
    if os.path.exists(GIF_FIXTURE_PATH):
        return GIF_FIXTURE_PATH

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..functions.gifcodec import encode_gif

    n_docs = _max_doc_id() + 1
    ids, blobs = [], []
    for doc_id in range(n_docs):
        w, h = gif_dims(doc_id)
        ids.append(doc_id)
        blobs.append(encode_gif(w, h, png_payload(doc_id, w * h)))
    table = pa.table(
        {"doc_id": pa.array(ids, type=pa.int64()),
         "gif": pa.array(blobs, type=pa.binary())}
    )
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(GIF_FIXTURE_PATH), suffix=".parquet.tmp"
    )
    os.close(fd)
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, GIF_FIXTURE_PATH)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return GIF_FIXTURE_PATH


GIF_ANIM_FIXTURE_PATH = os.path.join(
    tempfile.gettempdir(), "ofs-gif-anim-fixture-v1.parquet"
)


def gif_anim_params(doc_id: int) -> tuple[int, list[int]]:
    """Animated-GIF fixture parameters: (frame count, per-frame GCE
    delays in centiseconds) — pure doc_id formulas so the SQL oracle can
    recompute frame count and total duration without opening the blob."""
    n_frames = 1 + doc_id % 4
    return n_frames, [3 + (doc_id + 7 * i) % 12 for i in range(n_frames)]


def ensure_gif_anim_fixture() -> str:
    """Create GIF_ANIM_FIXTURE_PATH if missing; return the path. One
    REAL multi-frame GIF89a per doc_id (encode_animated_gif — a GCE +
    LZW-compressed full frame per frame, plus the NETSCAPE2.0 loop
    extension), dims from gif_dims, frame count/delays from
    gif_anim_params. Atomic."""
    if os.path.exists(GIF_ANIM_FIXTURE_PATH):
        return GIF_ANIM_FIXTURE_PATH

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..functions.gifcodec import encode_animated_gif

    n_docs = _max_doc_id() + 1
    ids, blobs = [], []
    for doc_id in range(n_docs):
        w, h = gif_dims(doc_id)
        n_frames, delays = gif_anim_params(doc_id)
        frames = [png_payload(doc_id * 31 + i, w * h) for i in range(n_frames)]
        ids.append(doc_id)
        blobs.append(encode_animated_gif(w, h, frames, delays))
    table = pa.table(
        {"doc_id": pa.array(ids, type=pa.int64()),
         "gif": pa.array(blobs, type=pa.binary())}
    )
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(GIF_ANIM_FIXTURE_PATH), suffix=".parquet.tmp"
    )
    os.close(fd)
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, GIF_ANIM_FIXTURE_PATH)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return GIF_ANIM_FIXTURE_PATH


def png_palette_rgb(n_colors: int) -> bytes:
    """Fixture palette: flat RGB triples from a fixed integer formula —
    entry j is ((j*3)%256, (j*5+1)%256, (j*7+2)%256). Shared verbatim
    with the DuckDB oracle so the palette lookup itself is checked."""
    return bytes(
        b
        for j in range(n_colors)
        for b in ((j * 3) % 256, (j * 5 + 1) % 256, (j * 7 + 2) % 256)
    )


def png_palette_indices(doc_id: int, n: int, n_colors: int) -> bytes:
    """Fixture palette-index stream: the png_payload Knuth-hash formula
    reduced mod the palette size."""
    idx = np.arange(n, dtype=np.uint64)
    return (
        (
            (np.uint64(doc_id) * np.uint64(2654435761) + idx * np.uint64(40503))
            % np.uint64(n_colors)
        )
        .astype(np.uint8)
        .tobytes()
    )


def ensure_png_palette_fixture() -> str:
    """Create PNG_PALETTE_FIXTURE_PATH if missing; return the path.
    Three arms by doc_id % 3, covering the two real-crawl PNG shapes the
    v1 fixture lacked (VERDICT r3 #7): (0) 256-color 8-bit paletted,
    (1) 16-color 4-bit paletted (sub-byte scanline packing), (2) Adam7
    progressive grayscale. All stay in the lossless subspace, so the
    oracle recomputes every pixel from the generative formula."""
    if os.path.exists(PNG_PALETTE_FIXTURE_PATH):
        return PNG_PALETTE_FIXTURE_PATH

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..functions.multimodal import (
        encode_png_adam7,
        encode_png_palette,
    )

    n_docs = _max_doc_id() + 1
    ids, blobs = [], []
    for doc_id in range(n_docs):
        w, h = png_dims(doc_id)
        arm = doc_id % 3
        if arm == 2:
            blob = encode_png_adam7(w, h, png_payload(doc_id, w * h))
        else:
            n_colors = 16 if arm == 1 else 256
            blob = encode_png_palette(
                w,
                h,
                png_palette_indices(doc_id, w * h, n_colors),
                png_palette_rgb(n_colors),
                bit_depth=4 if arm == 1 else 8,
            )
        ids.append(doc_id)
        blobs.append(blob)
    table = pa.table(
        {"doc_id": pa.array(ids, type=pa.int64()),
         "png": pa.array(blobs, type=pa.binary())}
    )
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(PNG_PALETTE_FIXTURE_PATH), suffix=".parquet.tmp"
    )
    os.close(fd)
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, PNG_PALETTE_FIXTURE_PATH)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return PNG_PALETTE_FIXTURE_PATH


def png16_samples(doc_id: int, n: int) -> bytes:
    """Fixture 16-bit sample stream: the png_payload Knuth-hash formula
    kept mod 2^16 and serialized big-endian (RFC 2083 network byte
    order) — shared verbatim with the DuckDB oracle."""
    idx = np.arange(n, dtype=np.uint64)
    return (
        (
            (np.uint64(doc_id) * np.uint64(2654435761)
             + idx * np.uint64(40503))
            % np.uint64(65536)
        )
        .astype(">u2")
        .tobytes()
    )


def ensure_png16_fixture() -> str:
    """Create PNG16_FIXTURE_PATH if missing; return the path. Two arms
    by doc_id % 2 (VERDICT r4 #5): (0) 16-bit grayscale, (1) 16-bit
    truecolor RGB — 2-byte big-endian samples through the same unfilter
    path (fdist 2 resp. 6). Lossless subspace: the oracle recomputes
    every sample from the generative formula."""
    if os.path.exists(PNG16_FIXTURE_PATH):
        return PNG16_FIXTURE_PATH

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..functions.multimodal import encode_png

    n_docs = _max_doc_id() + 1
    ids, blobs = [], []
    for doc_id in range(n_docs):
        w, h = png_dims(doc_id)
        color_type = 2 if doc_id % 2 else 0
        n_samples = w * h * (3 if color_type == 2 else 1)
        blobs.append(
            encode_png(
                w, h, png16_samples(doc_id, n_samples),
                bit_depth=16, color_type=color_type,
            )
        )
        ids.append(doc_id)
    table = pa.table(
        {"doc_id": pa.array(ids, type=pa.int64()),
         "png": pa.array(blobs, type=pa.binary())}
    )
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(PNG16_FIXTURE_PATH), suffix=".parquet.tmp"
    )
    os.close(fd)
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, PNG16_FIXTURE_PATH)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return PNG16_FIXTURE_PATH


def ensure_jpeg_exif_fixture() -> str:
    """Create JPEG_EXIF_FIXTURE_PATH if missing; return the path. JFIF
    streams with an APP1 Exif segment (TIFF IFD0 Orientation) spliced
    after SOI: orientation = 1 + (doc_id*7) % 8 covering all eight
    values, byte order alternating II/little / MM/big by doc parity,
    and every fourth doc carrying NO EXIF at all (consumers default to
    orientation 1). Dimension formulas shared verbatim with the DuckDB
    oracle."""
    if os.path.exists(JPEG_EXIF_FIXTURE_PATH):
        return JPEG_EXIF_FIXTURE_PATH

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..functions.multimodal import encode_app1_exif, encode_jpeg

    n_docs = _max_doc_id() + 1
    ids, blobs = [], []
    for doc_id in range(n_docs):
        w = 8 * (1 + doc_id % 4)
        h = 8 * (1 + (doc_id * 5) % 3)
        blob = encode_jpeg(w, h, b"x" * (1 + doc_id % 7))
        if doc_id % 4 != 3:
            app1 = encode_app1_exif(
                1 + (doc_id * 7) % 8, "II" if doc_id % 2 == 0 else "MM"
            )
            blob = blob[:2] + app1 + blob[2:]
        blobs.append(blob)
        ids.append(doc_id)
    table = pa.table(
        {"doc_id": pa.array(ids, type=pa.int64()),
         "jpeg": pa.array(blobs, type=pa.binary())}
    )
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(JPEG_EXIF_FIXTURE_PATH), suffix=".parquet.tmp"
    )
    os.close(fd)
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, JPEG_EXIF_FIXTURE_PATH)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return JPEG_EXIF_FIXTURE_PATH


def ensure_png_fixture() -> str:
    """Create PNG_FIXTURE_PATH if missing; return the path. Safe under
    concurrent callers (atomic rename; losers overwrite with identical
    bytes — the content is deterministic)."""
    if os.path.exists(PNG_FIXTURE_PATH):
        return PNG_FIXTURE_PATH

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..functions.multimodal import encode_png

    n_docs = _max_doc_id() + 1
    ids, blobs = [], []
    for doc_id in range(n_docs):
        w, h = png_dims(doc_id)
        ids.append(doc_id)
        blobs.append(encode_png(w, h, png_payload(doc_id, w * h)))
    table = pa.table(
        {"doc_id": pa.array(ids, type=pa.int64()),
         "png": pa.array(blobs, type=pa.binary())}
    )
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(PNG_FIXTURE_PATH), suffix=".parquet.tmp"
    )
    os.close(fd)
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, PNG_FIXTURE_PATH)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return PNG_FIXTURE_PATH
