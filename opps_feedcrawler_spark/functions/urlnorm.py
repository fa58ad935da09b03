"""URL canonicalization, hashing and host-salting (SURVEY.md §2 A2-A4).

Reference behavior (behavior-level [PK], SURVEY.md §1.1): the reference dedups
entries by exact link lookup in an RDBMS; canonicalization is implicit. The
north star makes it explicit: "canonicalized+murmur3-hashed URLs"
(BASELINE.json:6). ``canonicalize_url`` below is THE canonical form — the
single pure function shared by the engine's pandas UDF, the synthetic-corpus
generator, and the single-threaded test oracle, so byte-level agreement
between them is by construction.

Canonicalization spec (RFC 3986 §6 normalizations, pinned):
  1. trim surrounding whitespace
  2. scheme lowercased; only http/https survive (else -> None)
  3. userinfo dropped; host lowercased, trailing dot stripped
  4. default port dropped (http:80, https:443)
  5. path: percent-decode unreserved chars, dot-segments resolved,
     empty path -> "/", trailing slash stripped unless root
  6. query: tracking params dropped (utm_*, fbclid, gclid, ref, mc_eid),
     remaining pairs sorted by (key, value), re-encoded
  7. fragment dropped
Idempotent: canonicalize_url(canonicalize_url(u)) == canonicalize_url(u)
(property-tested in tests/test_urlnorm.py).
"""

from __future__ import annotations

import re
from urllib.parse import quote, unquote, urlsplit

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# Number of salt shards a single hot host is spread over for the politeness
# window (SURVEY.md §4.2.1 — AQE does not split skewed *window* partitions,
# so the salt column is load-bearing at 10^10-URL scale, BASELINE.json:6).
NSALTS = 16

_TRACKING_PREFIXES = ("utm_",)
_TRACKING_KEYS = frozenset({"fbclid", "gclid", "ref", "mc_eid"})
_DEFAULT_PORTS = {"http": "80", "https": "443"}
# RFC 3986 unreserved + sub-delims + path chars we keep literal on re-quote.
# '%' is in both safe sets so already-encoded escapes (normalized by
# _normalize_pct below) pass through quote() untouched.
_SAFE_PATH = "/:@!$&'()*+,;=~-._%"
# Query safe set EXCLUDES '&' and '=': they are the query's structural
# separators, so an escape like %26 must stay an escape — decoding it
# would merge distinct URLs ("?a=%26b%3Dc" is one pair, "?a=&b=c" is two)
# and break idempotence (round-1 review finding).
_SAFE_QUERY = ":@!$'()*+,;~-._/?%"

_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")


def _normalize_pct(s: str) -> str:
    """RFC 3986 §6.2.2 percent-encoding normalization: decode ONLY escapes
    of unreserved characters; every other escape keeps its meaning (%2F is
    NOT '/') and is case-normalized to uppercase hex. Malformed '%' runs
    are left untouched."""

    def _sub(m: re.Match) -> str:
        c = chr(int(m.group(1), 16))
        return c if c in _UNRESERVED else "%" + m.group(1).upper()

    return _PCT_RE.sub(_sub, s)


def _normalize_path(path: str) -> str:
    """Resolve dot-segments (RFC 3986 §5.2.4) and normalize percent-encoding
    (unreserved-only decode — reserved escapes keep their identity)."""
    if not path:
        return "/"
    path = quote(_normalize_pct(path), safe=_SAFE_PATH)
    segments: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if segments and segments[-1] != "":
                segments.pop()
            continue
        segments.append(seg)
    out = "/".join(segments)
    if not out.startswith("/"):
        out = "/" + out
    if len(out) > 1 and out.endswith("/"):
        out = out.rstrip("/") or "/"
    return out


def _normalize_query(query: str) -> str:
    if not query:
        return ""
    pairs: list[tuple[str, str]] = []
    for part in query.split("&"):
        if not part:
            continue
        k, _, v = part.partition("=")
        # tracking-key check decodes fully (a %75tm_source is still
        # tracking); the EMITTED form only decodes unreserved escapes so
        # encoded separators keep their identity
        k_dec = unquote(k)
        if k_dec.lower().startswith(_TRACKING_PREFIXES) or k_dec.lower() in _TRACKING_KEYS:
            continue
        pairs.append(
            (
                quote(_normalize_pct(k), safe=_SAFE_QUERY),
                quote(_normalize_pct(v), safe=_SAFE_QUERY),
            )
        )
    pairs.sort()
    return "&".join(f"{k}={v}" if v else k for k, v in pairs)


def canonicalize_url(url: str | None) -> str | None:
    """Pure canonical form; None for non-http(s)/unparseable input."""
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = (parts.hostname or "").lower().rstrip(".")
    if not host:
        return None
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS[scheme]:
        netloc = f"{host}:{port}"
    path = _normalize_path(parts.path)
    query = _normalize_query(parts.query)
    out = f"{scheme}://{netloc}{path}"
    if query:
        out += f"?{query}"
    return out


def host_of(url_norm: str | None) -> str | None:
    """Canonical host (incl. non-default port) of an already-canonical URL."""
    if url_norm is None:
        return None
    rest = url_norm.split("://", 1)[-1]
    return rest.split("/", 1)[0]


# Vectorized already-canonical sniff: a URL matching this is PROVEN to be a
# fixed point of canonicalize_url (property-tested in test_urlnorm), so the
# per-row Python path is skipped for it. Conservative by construction:
#   - scheme/host lowercase, host ends alphanumeric (no trailing dot),
#     no userinfo, no port (default or otherwise), no %-escapes,
#   - path of one-or-more segments from the unreserved/sub-delim set,
#     excluding "." entirely (so no dot-segments), no trailing slash,
#   - no query (query rules involve sorting/tracking-param drops), no
#     fragment.
# Link extraction output is dominated by already-canonical URLs, so this
# one match turns most of the link canonicalization in the fused parse
# (extract_all_udf) into a pass-through.
import re as _re

_FAST_CANONICAL = _re.compile(
    r"^https?://"
    r"[a-z0-9]([a-z0-9-]*[a-z0-9])?(\.[a-z0-9]([a-z0-9-]*[a-z0-9])?)*"
    r"(/[A-Za-z0-9_~:@!$&'()*+,;=-]+)+$"
)


def canonicalize_fast(url: str | None) -> str | None:
    """canonicalize_url with the _FAST_CANONICAL pass-through: a URL the
    match proves canonical is returned untouched; only the remainder runs
    the full RFC 3986 path. The one canonicalization rule of the engine's
    Python stages (canonicalize_udf, extract_all_udf)."""
    if url is not None and _FAST_CANONICAL.match(url):
        return url
    return canonicalize_url(url)


@pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """Arrow-batched canonicalization (B32). URL parsing is not expressible
    in native Spark SQL functions with RFC 3986 fidelity; this is one of the
    sanctioned Python boundaries (BASELINE.json:16)."""
    return urls.map(canonicalize_fast, na_action="ignore")


# Pure but flagged nondeterministic: stops Catalyst from duplicating the
# UDF across a pushed-down filter + projection (see with_url_cols).
_canonicalize_udf_once = canonicalize_udf.asNondeterministic()


def host_col(url_norm: Column) -> Column:
    """Native (JVM-side) host extraction from an already-canonical URL —
    no UDF needed post-canonicalization."""
    return F.regexp_extract(url_norm, r"^https?://([^/]+)", 1)


def with_url_cols(
    df: DataFrame, url_col: str = "url", nsalts: int = NSALTS
) -> DataFrame:
    """Append url_norm / host / url_hash / host_hash / salt (A2-A4).

    - url_hash  = xxhash64(url_norm)      (64-bit, JVM-side)
    - host_hash = F.hash(host)            (Spark's F.hash IS murmur3 x86_32,
                                           BASELINE.json:6 "murmur3-hashed")
    - salt      = pmod(url_hash, nsalts)  varies WITHIN a host so one
                                           mega-host spreads over nsalts tasks
    Rows whose URL fails canonicalization are dropped (invalid scheme etc.).

    The UDF is marked nondeterministic (it is pure — this is a plan-shape
    pin): otherwise Catalyst pushes the isNotNull filter beneath the
    projection and the Python UDF runs TWICE per row (one ArrowEvalPython
    for the filter, another for the projection). Call sites only
    project/filter, where nondeterminism is legal.
    """
    out = (
        df.withColumn("url_norm", _canonicalize_udf_once(F.col(url_col)))
        .filter(F.col("url_norm").isNotNull())
        .withColumn("host", host_col(F.col("url_norm")))
        .withColumn("url_hash", F.xxhash64("url_norm"))
        .withColumn("host_hash", F.hash("host"))
        .withColumn("salt", F.pmod(F.col("url_hash"), F.lit(nsalts)).cast("int"))
    )
    return out


def url_template(url: Column) -> Column:
    """Collapse a URL to its structural template for crawler-trap mining:
    long hex runs (session ids, content hashes) become ``{h}``, digit runs
    become ``{n}``. Calendar traps (/cal/2024/3/7), session-id explosions
    and pagination all collapse to ONE template whose URL count then
    screams in the per-template aggregate, while legitimate content
    templates stay proportional to real pages (Heydon & Najork's Mercator
    trap discussion, public). Pure JVM regexp — order matters: hex first,
    else digit runs inside hex ids would split them."""
    t = F.regexp_replace(url, "[0-9a-f]{8,}", "{h}")
    return F.regexp_replace(t, "[0-9]+", "{n}")


# Minimal deterministic public-suffix set for registrable-domain (PLD)
# extraction. The real publicsuffix.org list is ~9k rules and changes
# weekly; shipping a snapshot would make results time-dependent, so the
# engine takes the rule TABLE as data (broadcast) and this constant is
# only the built-in default used by tests/oracles. Multi-label entries
# cover the two structural cases: country second-level (co.uk) and
# private registry (github.io).
PUBLIC_SUFFIXES: tuple[str, ...] = (
    "com", "org", "net", "io", "edu", "gov", "example",
    "co.uk", "org.uk", "ac.uk", "com.au", "co.jp", "github.io",
)
# Wildcard rules ('*.ck' -> base 'ck'): EVERY '<label>.<base>' is a public
# suffix, so the registrable domain sits one label deeper. Exception rules
# ('!www.ck' -> 'www.ck') carve a registrable domain back out of a
# wildcard's shadow — PSL semantics: an exception rule always prevails,
# and the public suffix is the rule minus its leftmost label. These two
# defaults are publicsuffix.org's own documented example pair.
PSL_WILDCARDS: tuple[str, ...] = ("ck",)
PSL_EXCEPTIONS: tuple[str, ...] = ("www.ck",)


def registrable_domain(
    host: Column,
    suffixes: tuple[str, ...] = PUBLIC_SUFFIXES,
    wildcards: tuple[str, ...] = PSL_WILDCARDS,
    exceptions: tuple[str, ...] = PSL_EXCEPTIONS,
) -> Column:
    """Pay-level / registrable domain of a hostname per the FULL
    publicsuffix.org algorithm: exception rules prevail, then the longest
    matching rule (wildcard rules matching one label deeper than their
    base), and the registrable domain is the matched public suffix plus
    one more host label. 'a.b.example.co.uk' -> 'example.co.uk';
    'www.example.com' -> 'example.com'; wildcard '*.ck' makes
    'a.b.ck' -> 'a.b.ck' (suffix is 'b.ck'); exception '!www.ck' makes
    'x.www.ck' -> 'www.ck'. A host that IS a public suffix (bare 'b.ck'
    under '*.ck', bare 'co.uk') or matches nothing falls back to itself
    (the PSL's implicit '*' rule degenerates to last-2-labels only when
    some rule matched).

    Politeness and frontier salting by PLD instead of raw host is what
    stops a wildcard-subdomain spam farm (*.blogspot.example) from
    multiplying its politeness quota by inventing hosts — the wildcard
    rule class is exactly that shape, which is why it's first-class here.

    Pure JVM expressions (no UDF): for each rule class and label count k
    we slice the host's last k labels with slice(split()) and test
    membership against the literal rule set; precedence is CASE ordering
    (exceptions, then wildcards, then explicit suffixes longest-first).
    Cost is a fixed handful of codegen'd string ops per row — no shuffle,
    no join, no Python. Rule sets land in the plan as literals, so a
    production-sized PSL snapshot (~9k rules) should instead be passed as
    a broadcast rule table; these defaults keep tests/oracles
    deterministic.
    """
    labels = F.split(host, r"\.")
    n = F.size(labels)

    def lastk(k: int) -> Column:
        return F.concat_ws(".", F.slice(labels, -k, k))

    expr = F.when(F.lit(False), host)
    # exception rules: host tail == rule -> that tail IS the registrable
    # domain (suffix = rule minus leftmost label), longest rules first
    for k in sorted({e.count(".") + 1 for e in exceptions}, reverse=True):
        es = tuple(e for e in exceptions if e.count(".") + 1 == k)
        expr = expr.when((n >= k) & lastk(k).isin(*es), lastk(k))
    # Non-exception rules: the prevailing rule is the LONGEST match across
    # BOTH remaining classes — a wildcard '*.<base>' matches base+1 labels
    # (its effective depth), so an explicit rule with more labels than that
    # (e.g. 'y.x.ck' alongside '*.ck') must be tried first. Branches are
    # merged by effective matched-label count, descending; at equal depth
    # the two classes name the same host tail, so tie order is immaterial.
    branches: list[tuple[int, str, tuple[str, ...]]] = []
    for k in sorted({w.count(".") + 1 for w in wildcards}, reverse=True):
        ws = tuple(w for w in wildcards if w.count(".") + 1 == k)
        # wildcard '*.<base>': suffix = base+1 labels, registrable =
        # base+2 labels; a host at exactly base+1 labels IS a suffix ->
        # falls through to the host-itself fallback
        branches.append((k + 1, "wild", ws))
    for k in sorted({s.count(".") + 1 for s in suffixes}, reverse=True):
        ss = tuple(s for s in suffixes if s.count(".") + 1 == k)
        branches.append((k, "explicit", ss))
    branches.sort(key=lambda t: t[0], reverse=True)
    for eff, kind, rules in branches:
        if kind == "wild":
            base_k = eff - 1
            expr = expr.when(
                (n >= eff + 1) & lastk(base_k).isin(*rules), lastk(eff + 1)
            )
        else:
            expr = expr.when(
                (n >= eff + 1) & lastk(eff).isin(*rules), lastk(eff + 1)
            )
    return expr.otherwise(host)
