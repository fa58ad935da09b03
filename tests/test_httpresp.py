"""HTTP response envelope codec (sources/httpresp.py): RFC 9112 chunked
framing, RFC 9110 content codings, coding order, malformation quarantine,
and the Spark mapInPandas wrapper."""

from __future__ import annotations

import gzip

from hypothesis import given, settings
from hypothesis import strategies as st

from opps_feedcrawler_spark.sources.httpresp import (
    _dechunk,
    build_http_response_py,
    parse_http_response_py,
    parse_http_responses,
)

BODY = "héllo wörld — payload with \r\n\r\n inside ".encode("utf-8") * 17


def test_roundtrip_all_framings():
    for mode in ("identity", "chunked", "gzip"):
        r = parse_http_response_py(
            build_http_response_py(BODY, mode=mode, chunk_size=7)
        )
        assert r["http_ok"] and r["status"] == 200 and r["body"] == BODY
        assert r["content_type"] == "text/html; charset=utf-8"


def test_status_and_reason_preserved():
    r = parse_http_response_py(
        build_http_response_py(BODY, status=404, reason="Not Found")
    )
    assert (r["status"], r["reason"]) == (404, "Not Found")
    assert r["body"] == BODY


def test_chunk_extension_and_trailer_tolerated():
    env = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"5;ext=1\r\nhello\r\n0\r\nX-Trailer: v\r\n\r\n"
    )
    r = parse_http_response_py(env)
    assert r["http_ok"] and r["body"] == b"hello"


def test_interop_stdlib_gzip_body():
    """A gzip body from ANOTHER writer (stdlib gzip, header fields set)
    must inflate too — the parser keys on the coding, not our writer."""
    gz = gzip.compress(BODY, mtime=123)
    env = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
        b"Content-Length: %d\r\n\r\n" % len(gz) + gz
    )
    assert parse_http_response_py(env)["body"] == BODY


def test_malformations_quarantine_not_raise():
    cases = [
        None,
        b"",
        build_http_response_py(BODY)[:10],  # torn header block
        b"garbage\r\n\r\nxx",  # no HTTP status line
        b"HTTP/1.1 20x OK\r\n\r\n",  # non-numeric status
        b"HTTP/1.1 200 OK\r\nContent-Length: 99\r\n\r\nshort",  # short body
        build_http_response_py(BODY, mode="chunked")[:-5],  # torn chunk
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\n",
        b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\nContent-Length: 2\r\n\r\nxx",
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
        b"Content-Length: 4\r\n\r\nnope",  # failed inflate
        b"HTTP/1.1 200 OK\r\nbad header line no colon\r\n\r\nbody",
        # unsupported TRANSFER coding: body is still transfer-coded, so
        # reading it via Content-Length/read-to-end would misread it
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip\r\n"
        b"Content-Length: 4\r\n\r\nxxxx",
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: deflate\r\n\r\nbody",
    ]
    for payload in cases:
        r = parse_http_response_py(payload)
        assert r["http_ok"] is False and r["status"] is None
        assert r["body"] is None


def test_no_length_reads_to_end():
    env = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + BODY
    r = parse_http_response_py(env)
    assert r["http_ok"] and r["body"] == BODY


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400))
def test_fuzz_never_raises(blob):
    r = parse_http_response_py(blob)
    assert isinstance(r["http_ok"], bool)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=300), st.integers(min_value=1, max_value=64))
def test_chunked_roundtrip_property(body, chunk_size):
    env = build_http_response_py(body, mode="chunked", chunk_size=chunk_size)
    r = parse_http_response_py(env)
    assert r["http_ok"] and r["body"] == body
    hdr_end = env.find(b"\r\n\r\n") + 4
    assert _dechunk(env[hdr_end:]) == body


def test_full_common_crawl_read_path(spark):
    """The pipeline a user points at real CC shards, end to end: pages
    wrapped in HTTP envelopes (mixed framings) -> WARC response records
    -> record-per-member .warc.gz shards -> gzip member walk ->
    length-driven record parse -> HTTP envelope decode -> original HTML
    bytes, exactly."""
    from datetime import datetime

    from opps_feedcrawler_spark.sources.warc import (
        read_warc_gz,
        to_warc_gz_sharded,
    )

    modes = ["identity", "chunked", "gzip"]
    pages = {
        f"http://h{i}.example/p": ("<html>%d</html>" % (i * 7)).encode()
        for i in range(9)
    }
    rows = [
        (
            i % 2,
            url,
            datetime(2024, 3, 1),
            build_http_response_py(body, mode=modes[i % 3], chunk_size=3),
        )
        for i, (url, body) in enumerate(sorted(pages.items()))
    ]
    df = spark.createDataFrame(
        rows, "shard long, url string, warc_date timestamp, payload binary"
    )
    records = read_warc_gz(to_warc_gz_sharded(df).select("archive"))
    parsed = parse_http_responses(records)
    got = {r.url: r for r in parsed.collect()}
    assert set(got) == set(pages)
    for url, body in pages.items():
        assert got[url].http_ok and bytes(got[url].body) == body


def test_spark_wrapper_passthrough_and_quarantine(spark):
    rows = [
        ("u0", build_http_response_py(b"alpha")),
        ("u1", build_http_response_py(b"beta", mode="chunked", chunk_size=2)),
        ("u2", build_http_response_py(b"gamma", mode="gzip")),
        ("u3", b"torn"),
    ]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r.url: r for r in parse_http_responses(df).collect()}
    assert set(got) == {"u0", "u1", "u2", "u3"}
    assert bytes(got["u0"].body) == b"alpha"
    assert bytes(got["u1"].body) == b"beta"
    assert bytes(got["u2"].body) == b"gamma"
    assert got["u3"].http_ok is False and got["u3"].body is None
    assert all(got[f"u{i}"].http_ok for i in range(3))


def test_multi_coding_transfer_encoding_quarantines():
    """RFC 9112 §6.1: TE is an ordered list and chunked must be FINAL.
    'gzip, chunked' leaves a gzip-transfer-coded body after dechunking;
    'chunked, gzip' is malformed outright. Both must quarantine — a
    plain contains-'chunked' check would dechunk and silently hand back
    still-coded bytes as the payload (review finding, round 5)."""
    import gzip as _gzip

    from opps_feedcrawler_spark.sources.httpresp import (
        build_http_response_py,
    )

    gz = _gzip.compress(b"hello world")
    chunked = (
        format(len(gz), "x").encode() + b"\r\n" + gz + b"\r\n0\r\n\r\n"
    )
    for te in (b"gzip, chunked", b"chunked, gzip"):
        env = (
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: " + te + b"\r\n\r\n"
            + chunked
        )
        r = parse_http_response_py(env)
        assert r["http_ok"] is False and r["body"] is None, te
    # plain chunked (with a noisy 'identity' member) still decodes
    env = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: identity, chunked\r\n\r\n"
        b"3\r\nabc\r\n0\r\n\r\n"
    )
    r = parse_http_response_py(env)
    assert r["http_ok"] and r["body"] == b"abc"
    # build_http_response_py interop stays green (single chunked coding)
    r2 = parse_http_response_py(build_http_response_py(b"xy", mode="chunked"))
    assert r2["http_ok"] and r2["body"] == b"xy"


def test_repeated_header_lines_merge_per_rfc9110():
    # Two Transfer-Encoding field LINES are semantically the one list
    # 'gzip, chunked' (RFC 9110 §5.3) — a last-line-wins header dict
    # would treat this as bare chunked and hand back still-gzip-coded
    # bytes as the body. Must quarantine exactly like the one-line form.
    env = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n5\r\nhello\r\n0\r\n\r\n"
    )
    r = parse_http_response_py(env)
    assert r["http_ok"] is False and r["body"] is None
    # repeated IDENTICAL Content-Length lines collapse to one (RFC 9112
    # §6.3 allows this); DIFFERING values are an unrecoverable framing
    # conflict; a negative length is malformed outright
    ok = parse_http_response_py(
        b"HTTP/1.1 200 OK\r\nContent-Length: 3\r\n"
        b"Content-Length: 3\r\n\r\nabcdef"
    )
    assert ok["http_ok"] and ok["body"] == b"abc"
    for hdrs in (
        b"Content-Length: 3\r\nContent-Length: 5\r\n",
        b"Content-Length: -5\r\n",
    ):
        r = parse_http_response_py(
            b"HTTP/1.1 200 OK\r\n" + hdrs + b"\r\nabcdef"
        )
        assert r["http_ok"] is False, hdrs


def test_content_length_must_be_digits_only():
    # RFC 9110 §8.6: Content-Length = 1*DIGIT. Python's int() would read
    # '+3' as 3 and '1_0' as 10; both, and a negative, must quarantine.
    # So must a digit run past int()'s string-conversion limit
    for cl in (b"+3", b"1_0", b"-1", b" ", b"3 3", b"\xb2", b"9" * 5000):
        r = parse_http_response_py(
            b"HTTP/1.1 200 OK\r\nContent-Length: " + cl + b"\r\n\r\nabcdefghijkl"
        )
        assert r["http_ok"] is False and r["body"] is None, cl
    for cl, body in ((b"0", b""), (b"12", b"abcdefghijkl")):
        r = parse_http_response_py(
            b"HTTP/1.1 200 OK\r\nContent-Length: " + cl + b"\r\n\r\nabcdefghijkl"
        )
        assert r["http_ok"] and r["body"] == body, cl
