"""Unit tests for round-3 batch-5 primitives: MIME sniffing (including
arms the oracle query doesn't exercise — gzip, real encode_png bytes, a
spec-valid WAV header) and hreflang extraction edge cases."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from opps_feedcrawler_spark.functions.extract import extract_hreflang_py
from opps_feedcrawler_spark.functions.multimodal import encode_png, sniff_mime

# canonical RIFF/WAVE header: 8 kHz mono 16-bit PCM, 4 frames of data
_PCM = b"\x00\x01" * 4
WAV = (
    b"RIFF"
    + struct.pack("<I", 36 + len(_PCM))
    + b"WAVE"
    + b"fmt "
    + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    + b"data"
    + struct.pack("<I", len(_PCM))
    + _PCM
)


class TestSniffMime:
    def test_all_arms_including_real_codecs(self, spark):
        import gzip

        blobs = [
            ("png", encode_png(3, 2, b"\x00" * 6)),  # REAL encoder output
            ("wav", WAV),
            ("pdf", b"%PDF-1.4 fake"),
            ("gz", gzip.compress(b"payload")),
            ("html_ws", b"\n\t  <!DOCTYPE HTML><html></html>"),
            ("html_bare", b"<HTML><body>x</body></html>"),
            ("xml", b'<?xml version="1.0"?><rss/>'),
            ("junk", b"\x00\x01\x02 not a known format"),
            ("texty", b"plain words here"),
        ]
        df = spark.createDataFrame(blobs, "name string, blob binary")
        got = {
            r["name"]: r["mime"]
            for r in df.select("name", sniff_mime(F.col("blob")).alias("mime")).collect()
        }
        assert got == {
            "png": "image/png",
            "wav": "audio/wav",
            "pdf": "application/pdf",
            "gz": "application/gzip",
            "html_ws": "text/html",
            "html_bare": "text/html",
            "xml": "application/xml",
            "junk": "application/octet-stream",
            "texty": "application/octet-stream",
        }


class TestHreflang:
    def test_resolution_and_filtering(self):
        html = (
            '<html><head>'
            '<link rel="alternate" hreflang="en" href="/en/">'
            '<link rel="ALTERNATE stylesheet" hreflang="fr" href="fr.html">'
            '<link rel="alternate" href="/no-lang/">'  # no hreflang: skip
            '<link rel="canonical" href="/canon/">'  # wrong rel: skip
            '<link rel="alternate" hreflang="de">'  # no href: skip
            "</head></html>"
        )
        got = extract_hreflang_py(html, "http://h.example/a/b")
        assert got == [
            {"hreflang": "en", "href": "http://h.example/en/"},
            # multi-token rel containing 'alternate' counts (rel is a
            # space-separated token list per the HTML spec)
            {"hreflang": "fr", "href": "http://h.example/a/fr.html"},
        ]

    def test_empty_and_binary(self):
        assert extract_hreflang_py(None, "http://x/") == []
        assert extract_hreflang_py(b"", "http://x/") == []
