from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from opps_feedcrawler_spark.functions.extract import (
    extract_all_py,
    extract_entries_py,
    extract_links_py,
    extract_text_py,
    extract_text_udf,
    is_feed,
)

HTML = b"""<html><head><title>t</title><script>var x=1;</script>
<style>p{}</style></head><body><nav>menu here</nav>
<h1>Head  line</h1><p>first   para</p><p>second para</p>
<a href="/rel">rel</a> <a href="http://other.example/x">abs</a>
<footer>foot</footer></body></html>"""

RSS = b"""<?xml version="1.0"?><rss version="2.0"><channel><title>c</title>
<item><guid>g1</guid><title>Item One</title><link>http://a.example/1</link>
<pubDate>Mon, 04 Mar 2024 12:00:00 GMT</pubDate><description>desc one</description></item>
<item><title>Item Two</title><link>http://a.example/2</link></item>
</channel></rss>"""

ATOM = b"""<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">
<title>f</title><entry><id>e1</id><title>A1</title>
<link href="http://b.example/1"/><updated>2024-03-04T12:30:00Z</updated>
<summary>s1</summary></entry></feed>"""


def test_is_feed():
    assert not is_feed(HTML)
    assert is_feed(RSS)
    assert is_feed(ATOM)


def test_extract_text_html_strips_boilerplate():
    t = extract_text_py(HTML)
    assert "var x" not in t and "menu here" not in t and "foot" not in t
    assert t == "Head line first para second para rel abs"


def test_extract_text_feed():
    assert extract_text_py(RSS) == "Item One — desc one\nItem Two"


def test_extract_links():
    links = extract_links_py(HTML, "http://base.example/dir/page")
    assert links == ["http://base.example/rel", "http://other.example/x"]
    assert extract_links_py(RSS, None) == [
        "http://a.example/1",
        "http://a.example/2",
    ]


def test_extract_entries_rss():
    es = extract_entries_py(RSS)
    assert len(es) == 2
    assert es[0]["entry_guid"] == "g1"
    assert es[0]["published_ts"] == datetime(2024, 3, 4, 12, 0, 0)
    # guid falls back to link (reference dedup key behavior)
    assert es[1]["entry_guid"] == "http://a.example/2"


def test_extract_entries_atom():
    es = extract_entries_py(ATOM)
    assert es[0]["entry_guid"] == "e1"
    assert es[0]["link"] == "http://b.example/1"
    assert es[0]["published_ts"] == datetime(2024, 3, 4, 12, 30, 0)


def test_extract_all_fused_matches_individual():
    """The fused single-parse path must be output-identical to the three
    individual extractors — over the unit fixtures AND a real synthetic
    corpus (the byte-identity contract rides on this)."""
    from opps_feedcrawler_spark.sources.synth import gen_corpus

    pages, _, _ = gen_corpus(n_hosts=8, n_pages=120, n_seeds=5, seed=3)
    samples = [(HTML, "http://base.example/dir/page"), (RSS, None), (ATOM, None)]
    samples += [(h, u) for h, u in zip(pages["html"], pages["url"])]
    for html, base in samples:
        text, links, entries = extract_all_py(html, base)
        assert text == extract_text_py(html)
        assert links == extract_links_py(html, base)
        assert entries == extract_entries_py(html)


def test_extract_all_udf_links_are_canonical(spark):
    """The fused UDF's links are canonicalize_url over extract_links_py,
    in document order, with links that do not canonicalize dropped —
    the same rule the oracle crawler applies to extract_links_py."""
    from opps_feedcrawler_spark.functions.extract import extract_all_udf
    from opps_feedcrawler_spark.functions.urlnorm import canonicalize_url

    alias = (
        b"<html><body><a href='rel/a'>relative</a>"
        b"<a href='HTTP://Alias.EXAMPLE:80/x/./y/../z/'>alias</a>"
        b"<a href='mailto:someone@example.com'>mail</a>"
        b"<a href='javascript:void(0)'>js</a>"
        b"<a href='http://plain.example/p/1'>plain</a></body></html>"
    )
    samples = [
        (alias, "http://base.example/dir/page"),
        (HTML, "http://base.example/dir/page"),
        (RSS, "http://a.example/feed"),
        (ATOM, "http://b.example/feed"),
    ]
    df = spark.createDataFrame(samples, "html binary, base string")
    got = [
        list(r.links)
        for r in df.select(extract_all_udf("html", "base").alias("ex"))
        .select("ex.links")
        .collect()
    ]
    want = [
        [c for c in map(canonicalize_url, extract_links_py(h, b)) if c is not None]
        for h, b in samples
    ]
    assert got == want
    assert got[0] == [
        "http://base.example/dir/rel/a",
        "http://alias.example/x/z",
        "http://plain.example/p/1",
    ]


def test_text_udf_matches_pure_fn(spark):
    df = spark.createDataFrame([(HTML,), (RSS,), (ATOM,)], "html binary")
    got = {r.text for r in df.select(extract_text_udf("html").alias("text")).collect()}
    assert got == {extract_text_py(HTML), extract_text_py(RSS), extract_text_py(ATOM)}


def test_feed_sniff_false_positive_falls_back_to_html():
    """A page whose head contains '<feed'/'<rss' but is not a parseable
    feed (custom elements, rss inside markup) must go through the HTML
    extractors instead of silently yielding nothing."""
    fake = (
        b"<html><body><feed-widget>Hello world</feed-widget>"
        b"<a href='http://x.example/a'>a</a><p><rss broken</p></body></html>"
    )
    assert "Hello world" in extract_text_py(fake)
    assert extract_links_py(fake, "http://b.example/") == ["http://x.example/a"]
    assert extract_entries_py(fake) == []
    t, l, e = extract_all_py(fake, "http://b.example/")
    assert t == extract_text_py(fake)
    assert l == extract_links_py(fake, "http://b.example/")
    assert e == []


RDF = b"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns="http://purl.org/rss/1.0/"
         xmlns:dc="http://purl.org/dc/elements/1.1/">
<channel rdf:about="http://r.example/"><title>Chan</title></channel>
<item rdf:about="http://r.example/1"><title>T1</title>
  <link>http://r.example/1</link><dc:date>2024-01-02T03:04:05Z</dc:date>
  <description>D1</description></item>
<item rdf:about="http://r.example/2"><title>T2</title>
  <link>http://r.example/2</link></item>
</rdf:RDF>"""


def test_rss10_rdf_feed_supported():
    """RSS 1.0 (<rdf:RDF> root, namespaced items): entry identity from
    rdf:about, ISO dc:date parsed, links extracted; fused parity holds."""
    from datetime import datetime

    assert is_feed(RDF)
    es = extract_entries_py(RDF)
    assert [e["entry_guid"] for e in es] == [
        "http://r.example/1",
        "http://r.example/2",
    ]
    assert es[0]["published_ts"] == datetime(2024, 1, 2, 3, 4, 5)
    assert extract_links_py(RDF, None) == [
        "http://r.example/1",
        "http://r.example/2",
    ]
    t, l, e = extract_all_py(RDF, None)
    assert (t, l, e) == (extract_text_py(RDF), extract_links_py(RDF, None), es)
