"""Unit tests for round-3 batch-5 primitives: MIME sniffing (including
arms the oracle query doesn't exercise — gzip, real encode_png bytes, a
spec-valid WAV header), hreflang extraction edge cases, span dedup, and
mirror detection's boilerplate cap."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from opps_feedcrawler_spark.functions.extract import extract_hreflang_py
from opps_feedcrawler_spark.functions.multimodal import encode_png, sniff_mime
from opps_feedcrawler_spark.operators.dedup import dup_spans, mirror_host_pairs

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


class TestDupSpans:
    def test_shared_span_counted_per_occurrence(self, spark):
        shared = "z" * 45  # one 40-char window at stride 10 covers pos 1
        docs = spark.createDataFrame(
            [
                (1, shared),
                (2, shared + " tail that makes it longer than doc one"),
                (3, "completely different text " * 4),
            ],
            "doc_id long, text string",
        )
        got = {
            r["id"]: r["n_dup_spans"]
            for r in dup_spans(docs, span_len=40, stride=10).collect()
        }
        # doc1 has one window ('z'*40); doc2's first window matches it
        assert got[1] >= 1 and got[2] >= 1
        assert 3 not in got

    def test_short_docs_emit_nothing(self, spark):
        docs = spark.createDataFrame(
            [(1, "short"), (2, "short")], "doc_id long, text string"
        )
        assert dup_spans(docs, span_len=40, stride=10).count() == 0


class TestMirrorHosts:
    def test_pair_detection_and_boilerplate_cap(self, spark):
        rows = []
        # h1/h2 mirror each other on 3 pages
        for i in range(3):
            rows.append(("h1", f"mirrored page {i}"))
            rows.append(("h2", f"mirrored page {i}"))
        # h3 shares only ONE page with h1: below min_shared=2
        rows.append(("h3", "mirrored page 0"))
        # boilerplate shared by many hosts must not pair them
        for i in range(10):
            rows.append((f"b{i}", "empty shell"))
        docs = spark.createDataFrame(rows, "host string, text string")
        got = {
            (r["host_a"], r["host_b"]): r["n_shared"]
            for r in mirror_host_pairs(
                docs, min_shared=2, max_hosts_per_fp=5
            ).collect()
        }
        assert got == {("h1", "h2"): 3}
