"""HTML / RSS / Atom extraction (SURVEY.md §2 A12-A14).

Reference behavior [PK]: opps-feedcrawler's processors call feedparser, which
fetches+parses a feed and maps item fields (title, link, guid, published)
onto CMS Post rows (SURVEY.md §1.1). This module re-expresses that as pure
functions over raw page bytes, wrapped in Arrow-batched pandas UDFs
(BASELINE.json:16 — "feed/HTML extraction ... done entirely in pandas UDFs
with no per-row Python").

The pure functions (``extract_text_py`` etc.) are the SINGLE source of truth:
the synthetic-corpus generator derives pages.text from them and the test
oracle calls them directly, making the "byte-identical extracted text per
url" invariant (BASELINE.json:16) checkable with ``bytes ==``.

Only stdlib parsers are used (html.parser, xml.etree.ElementTree) — neither
feedparser nor lxml exists in the environment (SURVEY.md [ENV]).
"""

from __future__ import annotations

import re
from datetime import datetime, timezone
from email.utils import parsedate_to_datetime
from html.parser import HTMLParser
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..schemas import ENTRY_STRUCT
from .urlnorm import canonicalize_fast

_FEED_SNIFF = re.compile(rb"<\s*(rss|feed|rdf:rdf)[\s>]", re.IGNORECASE)
_ATOM_NS = "{http://www.w3.org/2005/Atom}"

# Elements whose text is boilerplate, never content (A13 spec, pinned).
_SKIP_TAGS = frozenset(
    {"script", "style", "nav", "header", "footer", "aside", "noscript", "head", "title"}
)
_WS = re.compile(r"\s+")


def _decode(html: bytes | str | None) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        return bytes(html).decode("utf-8", errors="replace")
    return html


def is_feed(html: bytes | str | None) -> bool:
    if html is None:
        return False
    raw = bytes(html) if isinstance(html, (bytes, bytearray)) else html.encode()
    return _FEED_SNIFF.search(raw[:2048]) is not None


class _TextExtractor(HTMLParser):
    """Boilerplate-stripping text extractor: drops _SKIP_TAGS subtrees,
    keeps the rest, collapses whitespace."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self._chunks: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag in _SKIP_TAGS:
            self._skip_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0 and data.strip():
            self._chunks.append(data)

    def text(self) -> str:
        return _WS.sub(" ", " ".join(self._chunks)).strip()


class _LinkExtractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag == "a":
            for k, v in attrs:
                if k == "href" and v:
                    self.hrefs.append(v)


class _CombinedExtractor(HTMLParser):
    """One-pass text + link extraction: the hot-path fusion of
    _TextExtractor and _LinkExtractor with bit-identical outputs to each
    (hrefs are collected regardless of skip depth, exactly like
    _LinkExtractor). Parsing is the dominant CPU cost of a crawl round, so
    parsing once instead of three times is a ~3x hot-path win at scale."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self._chunks: list[str] = []
        self.hrefs: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag == "a":
            for k, v in attrs:
                if k == "href" and v:
                    self.hrefs.append(v)
        if tag in _SKIP_TAGS:
            self._skip_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0 and data.strip():
            self._chunks.append(data)

    def text(self) -> str:
        return _WS.sub(" ", " ".join(self._chunks)).strip()


def _parse_xml(doc: str):
    import xml.etree.ElementTree as ET

    try:
        return ET.fromstring(doc)
    except ET.ParseError:
        return None


def _feed_root(doc: str):
    """Parsed XML root when the document both sniffs AND parses as a
    recognized feed flavor (rss / atom / rdf a.k.a. RSS 1.0); None →
    process as HTML. A page whose head merely contains '<feed...' (a
    custom element, or '<rss' inside a script) or that fails XML parsing
    falls back to the HTML extractors instead of silently contributing
    zero text and zero links (round-2 review finding)."""
    if not is_feed(doc):
        return None
    root = _parse_xml(doc)
    if root is None:
        return None
    if root.tag.lower().rsplit("}", 1)[-1] in ("rss", "feed", "rdf"):
        return root
    return None


_RDF_ABOUT = "{http://www.w3.org/1999/02/22-rdf-syntax-ns#}about"


def _child_text_local(el, name: str) -> str | None:
    """First child whose LOCAL name matches (RSS 1.0 items namespace
    their fields; localname match covers rss1.0 + dc elements)."""
    for c in el:
        if c.tag.rsplit("}", 1)[-1] == name and c.text:
            return c.text.strip()
    return None


def _feed_items(root):
    """Yield (guid, title, link, published_raw, summary) per RSS item /
    Atom entry. Field mapping mirrors feedparser's (behavior-level [PK])."""
    if root is None:
        return
    local = root.tag.lower().rsplit("}", 1)[-1]
    if local == "rss":
        for item in root.iter("item"):
            yield (
                _xml_text(item, "guid"),
                _xml_text(item, "title"),
                _xml_text(item, "link"),
                _xml_text(item, "pubDate"),
                _xml_text(item, "description"),
            )
    elif local == "rdf":
        # RSS 1.0: <rdf:RDF> root, namespaced <item>s; identity is the
        # rdf:about attribute, date is dc:date (ISO-8601)
        for item in root.iter():
            if item.tag.rsplit("}", 1)[-1] != "item":
                continue
            yield (
                item.get(_RDF_ABOUT),
                _child_text_local(item, "title"),
                _child_text_local(item, "link"),
                _child_text_local(item, "date"),
                _child_text_local(item, "description"),
            )
    elif local == "feed":
        for entry in root.iter(f"{_ATOM_NS}entry"):
            link = None
            for el in entry.findall(f"{_ATOM_NS}link"):
                if el.get("rel") in (None, "alternate"):
                    link = el.get("href")
                    break
            yield (
                _xml_text(entry, f"{_ATOM_NS}id"),
                _xml_text(entry, f"{_ATOM_NS}title"),
                link,
                _xml_text(entry, f"{_ATOM_NS}updated"),
                _xml_text(entry, f"{_ATOM_NS}summary"),
            )


def _xml_text(el, tag: str) -> str | None:
    child = el.find(tag)
    if child is None or child.text is None:
        return None
    return child.text.strip()


def parse_feed_datetime(raw: str | None) -> datetime | None:
    """RFC-822 (RSS pubDate) or ISO-8601 (Atom updated) → naive UTC."""
    if not raw:
        return None
    try:
        dt = parsedate_to_datetime(raw)
    except (TypeError, ValueError):
        try:
            dt = datetime.fromisoformat(raw.replace("Z", "+00:00"))
        except ValueError:
            return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


# ---------------------------------------------------------------------------
# Pure extraction functions — shared by generator / oracle / engine UDFs.
# ---------------------------------------------------------------------------


def extract_text_py(html: bytes | str | None) -> str:
    """A13: deterministic boilerplate-stripped text, byte-identical everywhere
    (BASELINE.json:16). Feeds yield 'title — summary' lines; HTML yields
    whitespace-collapsed non-boilerplate text."""
    doc = _decode(html)
    if not doc:
        return ""
    root = _feed_root(doc)
    if root is not None:
        parts: list[str] = []
        for _guid, title, _link, _pub, summary in _feed_items(root):
            seg = " — ".join(s for s in (title, summary) if s)
            if seg:
                parts.append(seg)
        return "\n".join(parts)
    p = _TextExtractor()
    try:
        p.feed(doc)
        p.close()
    except Exception:
        pass
    return p.text()


def extract_links_py(html: bytes | str | None, base_url: str | None) -> list[str]:
    """A14: outgoing links (raw, pre-canonicalization), relative resolved
    against base_url; feed item links included. Order = document order,
    deduped first-wins (determinism for crawl ordering)."""
    doc = _decode(html)
    if not doc:
        return []
    hrefs: list[str] = []
    root = _feed_root(doc)
    if root is not None:
        for _guid, _title, link, _pub, _summary in _feed_items(root):
            if link:
                hrefs.append(link)
    else:
        p = _LinkExtractor()
        try:
            p.feed(doc)
            p.close()
        except Exception:
            pass
        hrefs = p.hrefs
    return _resolve_links(hrefs, base_url)


def extract_entries_py(html: bytes | str | None) -> list[dict]:
    """A12: RSS/Atom entries as dicts matching schemas.ENTRY_STRUCT.
    guid falls back to link (the reference dedups by link when guid is
    absent — behavior-level [PK])."""
    doc = _decode(html)
    if not doc:
        return []
    root = _feed_root(doc)
    if root is None:
        return []
    out = []
    for guid, title, link, pub_raw, summary in _feed_items(root):
        out.append(
            {
                "entry_guid": guid or link,
                "title": title,
                "link": link,
                "published_ts": parse_feed_datetime(pub_raw),
                "summary": summary,
            }
        )
    return out


def _resolve_links(hrefs: list[str], base_url: str | None) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    for h in hrefs:
        try:
            absolute = urljoin(base_url or "", h)
        except ValueError:
            continue
        if absolute and absolute not in seen:
            seen.add(absolute)
            out.append(absolute)
    return out


def extract_all_py(
    html: bytes | str | None, base_url: str | None
) -> tuple[str, list[str], list[dict]]:
    """Fused single-parse extraction: (text, links, entries) with outputs
    byte-identical to extract_text_py / extract_links_py / extract_entries_py
    (property-tested in tests/test_extract.py). Feeds parse the XML once;
    HTML runs one combined parser pass."""
    doc = _decode(html)
    if not doc:
        return "", [], []
    root = _feed_root(doc)
    if root is not None:
        items = list(_feed_items(root))
        text_parts: list[str] = []
        hrefs: list[str] = []
        entries: list[dict] = []
        for guid, title, link, pub_raw, summary in items:
            seg = " — ".join(s for s in (title, summary) if s)
            if seg:
                text_parts.append(seg)
            if link:
                hrefs.append(link)
            entries.append(
                {
                    "entry_guid": guid or link,
                    "title": title,
                    "link": link,
                    "published_ts": parse_feed_datetime(pub_raw),
                    "summary": summary,
                }
            )
        return "\n".join(text_parts), _resolve_links(hrefs, base_url), entries
    p = _CombinedExtractor()
    try:
        p.feed(doc)
        p.close()
    except Exception:
        pass
    return p.text(), _resolve_links(p.hrefs, base_url), []


# ---------------------------------------------------------------------------
# Arrow-batched UDF wrappers (B32) — the only Python in the data path.
# ---------------------------------------------------------------------------


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_py)


@pandas_udf(ArrayType(StringType()))
def extract_links_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_links_py(h, b) for h, b in zip(html, base_url)], dtype=object
    )


@pandas_udf(ArrayType(ENTRY_STRUCT))
def extract_entries_udf(html: pd.Series) -> pd.Series:
    return pd.Series([extract_entries_py(h) for h in html], dtype=object)


EXTRACT_ALL_STRUCT = StructType(
    [
        StructField("text", StringType()),
        StructField("links", ArrayType(StringType())),
        StructField("entries", ArrayType(ENTRY_STRUCT)),
    ]
)


def _canonical_links(links: list[str]) -> list[str]:
    """Links in canonical form, document order kept; links that do not
    canonicalize (mailto:, javascript:, unparseable) are dropped."""
    return [c for c in map(canonicalize_fast, links) if c is not None]


@pandas_udf(EXTRACT_ALL_STRUCT)
def extract_all_udf(html: pd.Series, base_url: pd.Series) -> pd.DataFrame:
    """The crawl hot path: ONE parse per page yielding text, links and
    entries (plans/crawl.py persists its output so each round parses each
    fetched page exactly once, regardless of how many tables derive from
    it). ``links`` are canonical url_norm values — extract_all_py's
    resolved links through canonicalize_fast, None dropped — so the
    round's frontier path needs no second Python stage. Distinct raw links
    that canonicalize alike stay as separate entries; the min-depth
    dedup collapses them."""
    rows = []
    for h, b in zip(html, base_url):
        text, links, entries = extract_all_py(h, b)
        rows.append((text, _canonical_links(links), entries))
    return pd.DataFrame(rows, columns=["text", "links", "entries"])


# ---------------------------------------------------------------------------
# Sitemap protocol (round 3) — the other crawl-discovery format besides
# RSS/Atom. Public spec: sitemaps.org/protocol.html (urlset + sitemapindex),
# referenced from robots.txt via the `Sitemap:` directive (RFC 9309 §2.3
# allows unrecognized lines; the directive itself is the sitemaps.org
# extension). Same stdlib-ElementTree, localname-matching style as the feed
# parser above so namespaced documents (xmlns="http://www.sitemaps.org/...")
# parse identically to bare ones.
# ---------------------------------------------------------------------------

from pyspark.sql.types import BooleanType, DoubleType, TimestampType  # noqa: E402

SITEMAP_STRUCT = StructType(
    [
        StructField("loc", StringType()),
        StructField("lastmod_ts", TimestampType()),
        StructField("changefreq", StringType()),
        StructField("priority", DoubleType()),
        StructField("is_index", BooleanType()),
    ]
)


def parse_sitemap_py(xml: bytes | str | None) -> list[dict]:
    """Parse a sitemap document into entry dicts matching SITEMAP_STRUCT.

    - <urlset>: one dict per <url> with loc / lastmod (W3C datetime →
      naive UTC, same convention as feed timestamps) / changefreq /
      priority (float, protocol default-less: absent → None);
    - <sitemapindex>: one dict per <sitemap> with loc / lastmod and
      is_index=True (changefreq/priority are not part of index entries);
    - anything else (non-XML, wrong root): [] — callers treat the page as
      not-a-sitemap, mirroring the feed parser's fallback contract.

    Entries without <loc> are skipped (loc is the protocol's only required
    field). Document order is preserved for deterministic downstream
    scheduling.

    Gzipped input is transparent: sitemaps.org explicitly allows .xml.gz
    (and large hosts ship it that way), so byte input starting with the
    RFC 1952 magic is inflated first; a blob that LOOKS gzipped but fails
    to inflate is not-a-sitemap ([]), matching the malformed contract.
    """
    if isinstance(xml, (bytes, bytearray)) and xml[:2] == b"\x1f\x8b":
        import gzip as _gzip
        import zlib as _zlib

        try:
            xml = _gzip.decompress(bytes(xml))
        except (OSError, EOFError, _zlib.error):
            # zlib.error: valid gzip header over a corrupt deflate stream
            # (not an OSError subclass) — same fails-to-inflate contract
            return []
    doc = _decode(xml)
    if not doc:
        return []
    root = _parse_xml(doc)
    if root is None:
        return []
    local = root.tag.lower().rsplit("}", 1)[-1]
    if local == "urlset":
        is_index, entry_local = False, "url"
    elif local == "sitemapindex":
        is_index, entry_local = True, "sitemap"
    else:
        return []
    out: list[dict] = []
    for el in root.iter():
        if el.tag.rsplit("}", 1)[-1] != entry_local:
            continue
        loc = _child_text_local(el, "loc")
        if not loc:
            continue
        priority = None
        if not is_index:
            raw_pri = _child_text_local(el, "priority")
            if raw_pri is not None:
                try:
                    priority = float(raw_pri)
                except ValueError:
                    priority = None
        out.append(
            {
                "loc": loc,
                "lastmod_ts": parse_feed_datetime(_child_text_local(el, "lastmod")),
                "changefreq": None if is_index else _child_text_local(el, "changefreq"),
                "priority": priority,
                "is_index": is_index,
            }
        )
    return out


@pandas_udf(ArrayType(SITEMAP_STRUCT))
def parse_sitemap_udf(xml: pd.Series) -> pd.Series:
    return pd.Series([parse_sitemap_py(x) for x in xml], dtype=object)


# ---------------------------------------------------------------------------
# Anchor-text extraction (round 3) — (link, anchor text) pairs in document
# order, the input to per-target anchor aggregation (the classic web-graph
# signal used for retrieval and training-data enrichment; see e.g. Brin &
# Page 1998 §2.2, public). Unlike extract_links_py this keeps EVERY
# occurrence (aggregation wants counts) and carries the visible text
# between <a href> and </a>, whitespace-collapsed like _TextExtractor.
# ---------------------------------------------------------------------------

ANCHOR_STRUCT = StructType(
    [
        StructField("link", StringType()),
        StructField("anchor", StringType()),
    ]
)


class _AnchorExtractor(HTMLParser):
    """Collects (href, anchor-text) pairs. A new <a> implicitly closes an
    unclosed previous one (browser-like recovery); anchors nested inside
    _SKIP_TAGS still count (href collection matches _LinkExtractor, which
    ignores skip depth)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._href: str | None = None
        self._chunks: list[str] = []
        self.pairs: list[tuple[str, str]] = []

    def _flush(self) -> None:
        if self._href is not None:
            text = _WS.sub(" ", " ".join(self._chunks)).strip()
            self.pairs.append((self._href, text))
        self._href = None
        self._chunks = []

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag == "a":
            self._flush()
            for k, v in attrs:
                if k == "href" and v:
                    self._href = v
                    break

    def handle_endtag(self, tag: str) -> None:
        if tag == "a":
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._href is not None and data.strip():
            self._chunks.append(data)

    def close(self) -> None:
        super().close()
        self._flush()


def extract_anchors_py(
    html: bytes | str | None, base_url: str | None
) -> list[dict]:
    """(link, anchor) per <a href> occurrence, hrefs resolved against
    base_url; order = document order, duplicates KEPT (each occurrence is
    one vote in anchor aggregation)."""
    doc = _decode(html)
    if not doc:
        return []
    p = _AnchorExtractor()
    try:
        p.feed(doc)
        p.close()
    except Exception:
        pass
    out: list[dict] = []
    for href, anchor in p.pairs:
        try:
            absolute = urljoin(base_url or "", href)
        except ValueError:
            continue
        if absolute:
            out.append({"link": absolute, "anchor": anchor})
    return out


@pandas_udf(ArrayType(ANCHOR_STRUCT))
def extract_anchors_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_anchors_py(h, b) for h, b in zip(html, base_url)], dtype=object
    )


# ---------------------------------------------------------------------------
# HTML <head> metadata extraction (round 3) — title / description / robots
# meta / canonical / og:title / lang. These are the per-page signals a crawl
# indexes for scheduling (robots meta gates indexing, canonical collapses
# URL duplicates) and a training pipeline keeps as document metadata.
# First occurrence wins for every field, mirroring browser behavior.
# ---------------------------------------------------------------------------

META_STRUCT = StructType(
    [
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("robots_meta", StringType()),
        StructField("canonical", StringType()),
        StructField("og_title", StringType()),
        StructField("lang", StringType()),
    ]
)


class _MetaExtractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.fields: dict[str, str | None] = {
            "title": None,
            "description": None,
            "robots_meta": None,
            "canonical": None,
            "og_title": None,
            "lang": None,
        }
        self._in_title = False
        self._title_chunks: list[str] = []

    def _set(self, key: str, value: str | None) -> None:
        if value is not None and self.fields[key] is None:
            self.fields[key] = value

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        a = {k.lower(): v for k, v in attrs if v is not None}
        if tag == "html":
            self._set("lang", a.get("lang"))
        elif tag == "title":
            self._in_title = self.fields["title"] is None
        elif tag == "meta":
            name = (a.get("name") or "").lower()
            prop = (a.get("property") or "").lower()
            content = a.get("content")
            if name == "description":
                self._set("description", content)
            elif name == "robots":
                self._set("robots_meta", content)
            elif prop == "og:title":
                self._set("og_title", content)
        elif tag == "link":
            rels = (a.get("rel") or "").lower().split()
            if "canonical" in rels:
                self._set("canonical", a.get("href"))

    def handle_endtag(self, tag: str) -> None:
        if tag == "title" and self._in_title:
            self._in_title = False
            self._set(
                "title", _WS.sub(" ", " ".join(self._title_chunks)).strip()
            )

    def handle_data(self, data: str) -> None:
        if self._in_title:
            self._title_chunks.append(data)


def extract_meta_py(html: bytes | str | None, base_url: str | None = None) -> dict:
    """Head-metadata dict matching META_STRUCT; canonical resolved against
    base_url when relative. Absent fields are None (never '')."""
    empty = {k: None for k in (
        "title", "description", "robots_meta", "canonical", "og_title", "lang"
    )}
    doc = _decode(html)
    if not doc:
        return empty
    p = _MetaExtractor()
    try:
        p.feed(doc)
        p.close()
    except Exception:
        return empty
    out = p.fields
    if out["canonical"]:
        try:
            out["canonical"] = urljoin(base_url or "", out["canonical"])
        except ValueError:
            pass
    return out


@pandas_udf(META_STRUCT)
def extract_meta_udf(html: pd.Series, base_url: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        [extract_meta_py(h, b) for h, b in zip(html, base_url)]
    )


# ---------------------------------------------------------------------------
# Charset sniffing + decode (round 3) — the real web is NOT utf-8: a crawler
# must sniff BOMs and <meta charset> declarations before any text operator
# runs. Simplified WHATWG encoding-sniffing order (public spec): BOM >
# meta-declared charset in the first 1024 bytes > utf-8 strict > latin-1
# fallback (latin-1 maps every byte, so the fallback never fails).
# ---------------------------------------------------------------------------

DECODED_STRUCT = StructType(
    [
        StructField("charset", StringType()),
        StructField("text", StringType()),
    ]
)

_META_CHARSET = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?([a-zA-Z0-9_-]+)""", re.IGNORECASE
)


def sniff_decode_py(raw: bytes | None) -> dict:
    """(charset, text): charset is the DETECTED label (bom/meta/fallback
    source), text the decoded payload with the BOM stripped."""
    if raw is None:
        return {"charset": None, "text": None}
    raw = bytes(raw)
    if raw.startswith(b"\xef\xbb\xbf"):
        return {"charset": "utf-8", "text": raw[3:].decode("utf-8", "replace")}
    if raw.startswith(b"\xff\xfe"):
        return {"charset": "utf-16le", "text": raw[2:].decode("utf-16-le", "replace")}
    if raw.startswith(b"\xfe\xff"):
        return {"charset": "utf-16be", "text": raw[2:].decode("utf-16-be", "replace")}
    m = _META_CHARSET.search(raw[:1024])
    if m:
        label = m.group(1).decode("ascii").lower()
        try:
            return {"charset": label, "text": raw.decode(label, "replace")}
        except LookupError:
            pass  # unknown label: fall through to content sniffing
    try:
        return {"charset": "utf-8", "text": raw.decode("utf-8")}
    except UnicodeDecodeError:
        return {"charset": "iso-8859-1", "text": raw.decode("iso-8859-1")}


@pandas_udf(DECODED_STRUCT)
def sniff_decode_udf(raw: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([sniff_decode_py(r) for r in raw])


# ---------------------------------------------------------------------------
# hreflang alternate extraction (round 3) — <link rel="alternate"
# hreflang="…" href="…"> clusters the language variants of one page
# (Google's documented hreflang protocol, public). A crawler uses the
# cluster to dedup translations under one canonical group and to route
# language-targeted recrawl; a training pipeline keeps it as parallel-text
# alignment metadata.
# ---------------------------------------------------------------------------

HREFLANG_STRUCT = StructType(
    [
        StructField("hreflang", StringType()),
        StructField("href", StringType()),
    ]
)


class _HreflangExtractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.pairs: list[tuple[str, str]] = []

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag != "link":
            return
        a = {k.lower(): v for k, v in attrs if v is not None}
        rels = (a.get("rel") or "").lower().split()
        if "alternate" in rels and a.get("hreflang") and a.get("href"):
            self.pairs.append((a["hreflang"], a["href"]))


def extract_hreflang_py(
    html: bytes | str | None, base_url: str | None
) -> list[dict]:
    """(hreflang, href) per alternate link, hrefs resolved against
    base_url; document order, duplicates kept (mirrors _AnchorExtractor's
    occurrence semantics)."""
    doc = _decode(html)
    if not doc:
        return []
    p = _HreflangExtractor()
    try:
        p.feed(doc)
        p.close()
    except Exception:
        pass
    out: list[dict] = []
    for lang, href in p.pairs:
        try:
            absolute = urljoin(base_url or "", href)
        except ValueError:
            continue
        if absolute:
            out.append({"hreflang": lang, "href": absolute})
    return out


@pandas_udf(ArrayType(HREFLANG_STRUCT))
def extract_hreflang_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_hreflang_py(h, b) for h, b in zip(html, base_url)],
        dtype=object,
    )
