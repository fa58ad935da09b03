"""Round-3 batch-3 surface: HTML head-metadata extraction, charset
sniffing, WARC serialize/parse, URL template mining and PII scrubbing.
Pure functions byte-for-byte; operators through live plans (their oracle
parity runs in test_oracle_parity.py)."""

from __future__ import annotations

from datetime import datetime

from opps_feedcrawler_spark.functions.extract import (
    extract_meta_py,
    sniff_decode_py,
)
from opps_feedcrawler_spark.sources.warc import (
    build_warc_py,
    parse_warc_py,
    read_warc,
    to_warc,
)

# ---------------------------------------------------------------------------
# extract_meta_py
# ---------------------------------------------------------------------------

FULL_HTML = (
    '<html lang="en"><head><title>  A   Title </title>'
    '<meta name="Description" content="first desc">'
    '<meta name="description" content="second desc">'
    '<meta name="ROBOTS" content="noindex, nofollow">'
    '<meta property="og:title" content="OG title">'
    '<link rel="canonical" href="/canon/1">'
    '<link rel="stylesheet canonical" href="/canon/2">'
    "</head><body>text</body></html>"
)


def test_meta_full_first_wins_and_resolution():
    got = extract_meta_py(FULL_HTML, "http://h.example/deep/page")
    assert got["title"] == "A Title"  # whitespace-collapsed
    assert got["description"] == "first desc"  # first occurrence wins
    assert got["robots_meta"] == "noindex, nofollow"  # case-insensitive name
    assert got["og_title"] == "OG title"
    assert got["canonical"] == "http://h.example/canon/1"  # resolved, first
    assert got["lang"] == "en"


def test_meta_absent_fields_are_none_and_bad_input():
    got = extract_meta_py("<html><body>no head</body></html>", None)
    assert got == {
        "title": None,
        "description": None,
        "robots_meta": None,
        "canonical": None,
        "og_title": None,
        "lang": None,
    }
    assert extract_meta_py(None, None)["title"] is None
    assert extract_meta_py(b"", None)["title"] is None


def test_meta_accepts_bytes():
    got = extract_meta_py(FULL_HTML.encode(), "http://h.example/")
    assert got["title"] == "A Title"


# ---------------------------------------------------------------------------
# sniff_decode_py — WHATWG-ish order: BOM > meta charset > utf-8 > latin-1
# ---------------------------------------------------------------------------


def test_sniff_boms():
    assert sniff_decode_py(b"\xef\xbb\xbfcaf\xc3\xa9") == {
        "charset": "utf-8",
        "text": "café",
    }
    assert sniff_decode_py(b"\xff\xfe" + "hi".encode("utf-16-le")) == {
        "charset": "utf-16le",
        "text": "hi",
    }
    assert sniff_decode_py(b"\xfe\xff" + "hi".encode("utf-16-be")) == {
        "charset": "utf-16be",
        "text": "hi",
    }


def test_sniff_meta_declaration_beats_content():
    raw = b'<meta charset="iso-8859-1">caf\xe9'
    got = sniff_decode_py(raw)
    assert got["charset"] == "iso-8859-1"
    assert got["text"].endswith("café")
    # http-equiv style declaration
    raw2 = (
        b'<meta http-equiv="Content-Type" '
        b'content="text/html; charset=iso-8859-1">caf\xe9'
    )
    assert sniff_decode_py(raw2)["charset"] == "iso-8859-1"


def test_sniff_utf8_then_latin1_fallback():
    assert sniff_decode_py("café".encode()) == {
        "charset": "utf-8",
        "text": "café",
    }
    # invalid utf-8, no BOM, no declaration -> latin-1 never fails
    got = sniff_decode_py(b"caf\xe9")
    assert got == {"charset": "iso-8859-1", "text": "café"}
    # unknown declared label falls through to content sniffing
    got = sniff_decode_py(b'<meta charset="not-a-charset">plain')
    assert got["charset"] == "utf-8"


def test_sniff_null_and_empty():
    assert sniff_decode_py(None) == {"charset": None, "text": None}
    assert sniff_decode_py(b"") == {"charset": "utf-8", "text": ""}


# ---------------------------------------------------------------------------
# WARC golden bytes + parser robustness
# ---------------------------------------------------------------------------

RECS = [
    ("http://a.example/1", datetime(2024, 3, 1, 0, 0, 5), b"hello"),
    # payload containing the record terminator MUST roundtrip (the parser
    # is length-driven, never delimiter-split)
    ("http://a.example/2", datetime(2024, 3, 1, 0, 1, 0), b"x\r\n\r\ny"),
    ("http://a.example/3", datetime(2024, 3, 1, 0, 2, 0), b""),
]


def test_warc_golden_bytes():
    blob = build_warc_py(RECS[:1])
    assert blob == (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: http://a.example/1\r\n"
        b"WARC-Date: 2024-03-01T00:00:05Z\r\n"
        b"Content-Length: 5\r\n"
        b"\r\n"
        b"hello\r\n\r\n"
    )


def test_warc_roundtrip_and_tricky_payload():
    back = parse_warc_py(build_warc_py(RECS))
    assert [(r["url"], r["warc_date"], r["payload"]) for r in back] == [
        (u, t, p) for u, t, p in RECS
    ]
    assert [r["content_length"] for r in back] == [5, 6, 0]


def test_warc_torn_tail_salvages_prefix():
    blob = build_warc_py(RECS)
    truncated = parse_warc_py(blob[: len(blob) - 30])
    assert [r["url"] for r in truncated] == [RECS[0][0], RECS[1][0]]
    assert parse_warc_py(b"") == []
    assert parse_warc_py(None) == []
    assert parse_warc_py(b"not a warc") == []


def test_warc_case_insensitive_headers_and_extensions():
    blob = (
        b"WARC/1.0\r\n"
        b"warc-target-uri: http://x/\r\n"
        b"X-Custom: whatever\r\n"
        b"CONTENT-LENGTH: 2\r\n"
        b"\r\nhi\r\n\r\n"
    )
    got = parse_warc_py(blob)
    assert len(got) == 1
    assert got[0]["url"] == "http://x/"
    assert got[0]["payload"] == b"hi"
    assert got[0]["warc_date"] is None  # absent date tolerated


def test_warc_spark_roundtrip(spark):
    df = spark.createDataFrame(
        [(u, t, bytearray(p)) for u, t, p in RECS],
        "url string, warc_date timestamp, payload binary",
    )
    archives = to_warc(df)
    back = read_warc(archives).collect()
    got = sorted((r.url, r.warc_date, bytes(r.payload)) for r in back)
    assert got == sorted(RECS)
    # archive blobs stay where the records are: no exchange in the plan
    plan = archives._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# url_template
# ---------------------------------------------------------------------------


def test_url_template(spark):
    from pyspark.sql import functions as F

    from opps_feedcrawler_spark.functions.urlnorm import url_template

    rows = spark.createDataFrame(
        [
            ("http://h/cal/2024/3/7",),
            ("http://h/cal/2024/11/28",),
            ("http://h/page?sid=deadbeefdeadbeef",),
            ("http://h/doc/42",),
            ("http://h/abc",),  # hex-free, digit-free: unchanged
        ],
        "url string",
    )
    got = [r.t for r in rows.select(url_template(F.col("url")).alias("t")).collect()]
    assert got == [
        "http://h/cal/{n}/{n}/{n}",
        "http://h/cal/{n}/{n}/{n}",
        "http://h/page?sid={h}",
        "http://h/doc/{n}",
        "http://h/abc",
    ]


# ---------------------------------------------------------------------------
# pii_scrub operator (patterns themselves are cross-checked by the oracle)
# ---------------------------------------------------------------------------


def test_pii_scrub_counts_and_order(spark):
    from opps_feedcrawler_spark.functions.textstats import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d@e-f.org ip 10.0.0.1 call +1-555-0001"),
            (2, "clean text only"),
        ],
        "doc_id int, text string",
    )
    got = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert got[1].scrubbed == "mail [EMAIL] and [EMAIL] ip [IP] call [PHONE]"
    assert (got[1].n_emails, got[1].n_ips, got[1].n_phones) == (2, 1, 1)
    assert got[1].had_pii is True
    assert got[2].scrubbed == "clean text only"
    assert got[2].had_pii is False


def test_warc_sharded_and_cdx_index(spark):
    """to_warc_sharded: deterministic shard composition (url-ordered);
    cdx_index: offsets/lengths from the real record walk match a
    transparent re-scan of the archive bytes, digests are true sha256."""
    import hashlib
    from datetime import datetime

    from opps_feedcrawler_spark.sources.warc import (
        _parse_warc_offsets,
        cdx_index,
        to_warc_sharded,
    )

    rows = [
        (i // 3, f"http://h/{chr(122 - i)}", datetime(2024, 3, 1), bytes([i]) * (5 + i))
        for i in range(7)
    ]
    df = spark.createDataFrame(
        rows, "shard long, url string, warc_date timestamp, payload binary"
    )
    arch = {r.shard: bytes(r.archive) for r in to_warc_sharded(df).collect()}
    assert set(arch) == {0, 1, 2}
    # records inside each shard are url-sorted
    for shard, blob in arch.items():
        recs = _parse_warc_offsets(blob)
        urls = [r["url"] for r in recs]
        assert urls == sorted(urls)
        assert len(recs) == sum(1 for r in rows if r[0] == shard)
    # CDX rows agree with an independent rescan
    cdx = {
        (r.shard, r.url): r for r in cdx_index(to_warc_sharded(df)).collect()
    }
    assert len(cdx) == 7
    by_payload = {f"http://h/{chr(122 - i)}": bytes([i]) * (5 + i) for i in range(7)}
    for (shard, url), r in cdx.items():
        blob = arch[shard]
        rec = next(x for x in _parse_warc_offsets(blob) if x["url"] == url)
        assert r.offset == rec["offset"]
        assert r.cdx_ts == "20240301000000"
        assert r.digest == hashlib.sha256(by_payload[url]).hexdigest()
        # record_length covers exactly [offset, next offset or EOF)
        assert blob[r.offset : r.offset + 8] == b"WARC/1.0"
        tail = blob[r.offset + r.record_length : r.offset + r.record_length + 8]
        assert tail == b"" or tail == b"WARC/1.0"
