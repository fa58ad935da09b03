"""HTTP response envelope codec — the layer between a WARC response
record and its HTML payload.

Real Common-Crawl WARC response records store the FULL HTTP response a
fetcher saw: status line, header block, then the body as it came over the
wire — possibly `Transfer-Encoding: chunked` (RFC 9112 §7.1) and possibly
`Content-Encoding: gzip`/`deflate` (RFC 9110 §8.4). A user pointing this
engine at actual CC shards therefore needs an envelope parser between
`read_warc_gz` and text extraction; this module is it.

Decode order follows the RFCs: the transfer coding (chunked) is a
transport framing and is removed first; the content coding (gzip) is part
of the representation and is removed second. Bodies with neither use
Content-Length when declared (a declared length the payload can't satisfy
is a torn record → quarantined), else read-to-end (connection-close
semantics, the common shape in archived responses).

`build_http_response_py` is the fixture-side twin: it assembles an
envelope with a chosen framing so tests and the oracle-paired query
(q:crawl_http_envelope) can check decode∘encode losslessly against the
generative formula, the same two-route pattern as the media codecs.

Spark shape: `parse_http_responses` is a narrow ``mapInPandas`` — body
blobs are parsed where the records live and never shuffle, matching the
blob plan-shape rules in plans/crawl.py. Malformed envelopes quarantine
to `http_ok=false` rows; one bad record must never fail a 100 TB stage.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

_CRLF = b"\r\n"

PARSED_SCHEMA = (
    "status int, reason string, content_type string, body binary, "
    "http_ok boolean"
)


def build_http_response_py(
    body: bytes,
    status: int = 200,
    reason: str = "OK",
    content_type: str = "text/html; charset=utf-8",
    mode: str = "identity",
    chunk_size: int = 7,
) -> bytes:
    """Assemble one HTTP/1.1 response envelope around ``body``.

    mode 'identity' declares Content-Length; 'chunked' frames the body as
    RFC 9112 §7.1 hex-sized chunks of ``chunk_size`` bytes; 'gzip'
    compresses the body (one deterministic RFC 1952 member, reusing the
    WARC writer's fixed-header builder) and declares Content-Encoding.
    """
    from .warc import _gzip_member

    out = bytearray()
    out += b"HTTP/1.1 %d %s" % (status, reason.encode("ascii")) + _CRLF
    out += b"Content-Type: " + content_type.encode("ascii") + _CRLF
    if mode == "identity":
        out += b"Content-Length: %d" % len(body) + _CRLF + _CRLF
        out += body
    elif mode == "chunked":
        out += b"Transfer-Encoding: chunked" + _CRLF + _CRLF
        for i in range(0, len(body), chunk_size):
            chunk = body[i : i + chunk_size]
            out += b"%x" % len(chunk) + _CRLF + chunk + _CRLF
        out += b"0" + _CRLF + _CRLF
    elif mode == "gzip":
        gz = _gzip_member(body)
        out += b"Content-Encoding: gzip" + _CRLF
        out += b"Content-Length: %d" % len(gz) + _CRLF + _CRLF
        out += gz
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return bytes(out)


def _dechunk(buf: bytes) -> bytes | None:
    """Remove RFC 9112 §7.1 chunked framing; None on any malformation.
    Chunk extensions (';' onward in the size line) are allowed and
    ignored; trailer fields after the 0-chunk are allowed and ignored."""
    out = bytearray()
    pos = 0
    n = len(buf)
    while True:
        eol = buf.find(_CRLF, pos)
        if eol < 0:
            return None
        size_token = buf[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_token, 16)
        except ValueError:
            return None
        pos = eol + 2
        if size == 0:
            return bytes(out)  # trailers (if any) ignored past here
        if pos + size + 2 > n or buf[pos + size : pos + size + 2] != _CRLF:
            return None  # torn chunk
        out += buf[pos : pos + size]
        pos += size + 2


def parse_http_response_py(payload: bytes | None) -> dict:
    """Parse one archived HTTP response into
    (status, reason, headers-applied body bytes, http_ok).

    Any malformation — missing status line, bad header block, torn
    chunk, short Content-Length, failed inflate — quarantines to
    http_ok=False with null status/body, never an exception."""
    bad = {
        "status": None,
        "reason": None,
        "content_type": None,
        "body": None,
        "http_ok": False,
    }
    if not payload:
        return bad
    buf = bytes(payload)
    hdr_end = buf.find(_CRLF + _CRLF)
    if hdr_end < 0:
        return bad
    lines = buf[:hdr_end].split(_CRLF)
    status_parts = lines[0].split(b" ", 2)
    if len(status_parts) < 2 or not status_parts[0].startswith(b"HTTP/"):
        return bad
    try:
        status = int(status_parts[1])
    except ValueError:
        return bad
    reason = (
        status_parts[2].decode("ascii", "replace")
        if len(status_parts) > 2
        else ""
    )
    headers: dict[str, str] = {}
    for line in lines[1:]:
        name, sep, value = line.partition(b":")
        if not sep:
            return bad
        key = name.strip().lower().decode("ascii", "replace")
        val = value.strip().decode("latin-1")
        # RFC 9110 §5.3: repeated field lines are semantically ONE
        # comma-joined list. Keeping only the last line would let
        # 'Transfer-Encoding: gzip' + 'Transfer-Encoding: chunked'
        # masquerade as bare chunked and misread still-coded bytes —
        # the exact class the multi-coding quarantine below exists for.
        headers[key] = headers[key] + ", " + val if key in headers else val
    body = buf[hdr_end + 4 :]
    # transfer coding first (transport framing): RFC 9112 §6.1 — TE is a
    # comma-separated list applied in order, and chunked MUST be the
    # final coding. We decode chunked; any OTHER coding in the list
    # (e.g. 'gzip, chunked' — the body stays gzip-transfer-coded after
    # dechunking, or a bare 'gzip') leaves transfer-coded bytes we would
    # misread as payload, so those quarantine. 'chunked' anywhere but
    # last is malformed per spec — also quarantined.
    te = headers.get("transfer-encoding", "").lower().strip()
    codings = [c.strip() for c in te.split(",") if c.strip()]
    codings = [c for c in codings if c != "identity"]
    if codings and codings[-1] == "chunked":
        if len(codings) > 1:
            return bad  # residual transfer coding under the chunking
        dechunked = _dechunk(body)
        if dechunked is None:
            return bad
        body = dechunked
    elif codings:
        # unsupported transfer coding (e.g. 'Transfer-Encoding: gzip',
        # or misplaced 'chunked, gzip'): the body is still
        # transfer-coded — quarantine rather than misread it as framed
        # bytes, mirroring the unknown content-coding branch below
        return bad
    elif "content-length" in headers:
        # repeated identical Content-Length lines collapse to one
        # (RFC 9112 §6.3 permits this); differing values are an
        # unrecoverable framing conflict -> quarantine
        cl_vals = {v.strip() for v in headers["content-length"].split(",")}
        if len(cl_vals) != 1:
            return bad
        cl = cl_vals.pop()
        # RFC 9110 §8.6: Content-Length = 1*DIGIT. int() alone would also
        # take a sign, '_' separators and non-ASCII digits ('+3', '1_0')
        if not (cl.isascii() and cl.isdigit()):
            return bad
        try:
            declared = int(cl)
        except ValueError:
            return bad  # over int()'s digit limit (sys.set_int_max_str_digits)
        if declared > len(body):
            return bad  # torn record
        body = body[:declared]
    # ... then content coding (representation)
    coding = headers.get("content-encoding", "").lower()
    if coding in ("gzip", "x-gzip", "deflate"):
        try:
            # wbits=47 auto-detects gzip vs zlib wrapping
            body = zlib.decompress(body, 47)
        except zlib.error:
            return bad
    elif coding not in ("", "identity"):
        return bad  # unknown coding: refuse rather than misread
    return {
        "status": status,
        "reason": reason,
        "content_type": headers.get("content-type"),
        "body": body,
        "http_ok": True,
    }


def parse_http_responses(
    records: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """One row per input record: every non-payload column passed through,
    plus (status, reason, content_type, body, http_ok) from the envelope
    parse. Narrow mapInPandas — blobs are parsed in place, never
    shuffled; malformed envelopes become http_ok=false rows."""
    passthrough = [c for c in records.columns if c != payload_col]
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in records.schema.fields
        if f.name != payload_col
    )
    out_schema = (out_schema + ", " if out_schema else "") + PARSED_SCHEMA

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            parsed = [parse_http_response_py(p) for p in b[payload_col]]
            out = b[passthrough].copy() if passthrough else pd.DataFrame(
                index=b.index
            )
            for k in ("status", "reason", "content_type", "body", "http_ok"):
                out[k] = [r[k] for r in parsed]
            yield out

    return records.mapInPandas(parse, out_schema)
