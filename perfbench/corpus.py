"""Seeded synthetic web corpus for the engine benchmark.

Everything here is a pure function of (profile, seed): the same seed gives
byte-identical pages, seeds, robots rows and feed registries. The shapes
follow ``sources/synth.gen_corpus`` (HTML pages with anchors, RSS and Atom
feeds, non-canonical URL aliases, dangling links, zipfian hosts, robots
rules with plain and wildcard prefixes), but the generator lives here so a
change to the engine's own test fixtures cannot silently change the
benchmark's inputs.

Generation and preparation run once per (profile, seed) and are cached
on disk under the benchmark's cache directory; they are never timed.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
from datetime import datetime, timedelta

VOCAB = (
    "spark frontier crawl feed entry atom rss parquet shuffle salt bloom "
    "robots polite budget snapshot lineage resume arrow pandas vector batch "
    "host url canonical priority queue depth link anchor title summary web "
    "page corpus round commit manifest metric window cache probe"
).split()

T0 = datetime(2024, 3, 1)
# Items per feed, fixed so that a round's entry count follows the number of
# feeds it fetched and not also each feed's length.
FEED_ITEMS = 6

ROBOTS_COLUMNS = ["host", "crawl_delay", "rules"]
ROBOTS_SCHEMA = (
    "host string, crawl_delay double, "
    "rules array<struct<allow:boolean,prefix:string>>"
)

GENERATOR_VERSION = 3

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Engine sources each cached derivative is computed with. Their content is
# part of the derivative's cache key, so a change to any of them regenerates
# it instead of feeding the engine inputs (or checking it against digests)
# made by the old code.
PREPARED_SOURCES = ("opps_feedcrawler_spark/functions/urlnorm.py",)


def source_hash(paths) -> str:
    """Digest of the named files (relative to the repository root)."""
    h = hashlib.sha256()
    for rel in paths:
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:12]


def cache_key(profile: dict, seed: int) -> str:
    """Identity of one generated corpus: generator version, the corpus
    fields of the profile, and the seed."""
    fields = {k: profile[k] for k in sorted(profile) if k.startswith("corpus_")}
    blob = json.dumps([GENERATOR_VERSION, fields, seed], sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def _alias(url: str, rng: random.Random) -> str:
    """A non-canonical spelling of a canonical URL."""
    scheme, rest = url.split("://", 1)
    host, _, path = rest.partition("/")
    path = "/" + path
    choice = rng.randrange(5)
    if choice == 0:
        host = host.upper()
    elif choice == 1:
        host += ":80"
    elif choice == 2:
        path = "/./" + path.lstrip("/")
    elif choice == 3:
        path += "?utm_source=bench&utm_medium=synth"
    else:
        path += "#frag"
    return f"{scheme}://{host}{path}"


def _html_page(rng: random.Random, pid: int, targets: list[str]) -> str:
    paras = "".join(
        f"<p>{_words(rng, rng.randint(8, 30))}</p>"
        for _ in range(rng.randint(2, 6))
    )
    anchors = "".join(f'<a href="{t}">{_words(rng, 2)}</a> ' for t in targets)
    return (
        f"<html><head><title>page {pid}</title>"
        f"<script>var x={pid};</script><style>p{{margin:0}}</style></head>"
        f"<body><nav>home about {_words(rng, 3)}</nav>"
        f"<h1>{_words(rng, 4)}</h1>{paras}<div>{anchors}</div>"
        f"<footer>copyright {_words(rng, 2)}</footer></body></html>"
    )


def _feed_items(rng: random.Random, pid: int, targets: list[str]):
    """(guid, link) per item, with the shapes the feed dedup must handle:
    repeated guids, items with a link but no guid, items with neither."""
    items = []
    for i, t in enumerate(targets):
        r = rng.random()
        if r < 0.08 and i > 0:
            guid = f"urn:item:{pid}:{i - 1}"  # duplicate of the previous guid
        elif r < 0.16:
            guid = None
        else:
            guid = f"urn:item:{pid}:{i}"
        link = None if (guid is None and rng.random() < 0.3) else t
        items.append((guid, link))
    return items


def _rss_page(rng: random.Random, pid: int, targets: list[str]) -> str:
    out = []
    for i, (guid, link) in enumerate(_feed_items(rng, pid, targets)):
        ts = T0 + timedelta(hours=pid % 720, minutes=i)
        out.append(
            "<item>"
            + (f"<guid>{guid}</guid>" if guid else "")
            + f"<title>{_words(rng, 4)}</title>"
            + (f"<link>{link}</link>" if link else "")
            + f"<pubDate>{ts.strftime('%a, %d %b %Y %H:%M:%S')} GMT</pubDate>"
            + f"<description>{_words(rng, 10)}</description></item>"
        )
    return (
        '<?xml version="1.0"?><rss version="2.0"><channel>'
        f"<title>feed {pid}</title>{''.join(out)}</channel></rss>"
    )


def _atom_page(rng: random.Random, pid: int, targets: list[str]) -> str:
    out = []
    for i, (guid, link) in enumerate(_feed_items(rng, pid, targets)):
        ts = T0 + timedelta(hours=pid % 720, minutes=i)
        out.append(
            "<entry>"
            + (f"<id>{guid}</id>" if guid else "")
            + f"<title>{_words(rng, 4)}</title>"
            + (f'<link href="{link}"/>' if link else "")
            + f"<updated>{ts.strftime('%Y-%m-%dT%H:%M:%S')}Z</updated>"
            + f"<summary>{_words(rng, 10)}</summary></entry>"
        )
    return (
        '<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">'
        f"<title>feed {pid}</title>{''.join(out)}</feed>"
    )


def _robots_rows(n_hosts: int) -> list[dict]:
    rows = []
    for h in range(n_hosts):
        kind = h % 4
        if kind == 0:
            continue  # no robots row: everything allowed, default delay
        if kind == 1:
            rules = [{"allow": False, "prefix": "/private/"}]
        elif kind == 2:
            rules = [
                {"allow": False, "prefix": "/p/7"},
                {"allow": True, "prefix": "/p/7/ok"},
            ]
        else:
            rules = [{"allow": False, "prefix": "/p/*3$"}]
        rows.append(
            {
                "host": f"host{h}.example",
                "crawl_delay": [0.5, 1.0, 2.0][h % 3],
                "rules": rules,
            }
        )
    return rows


def generate(profile: dict, seed: int) -> dict:
    """Pages, seeds, robots and feed registries for one (profile, seed).

    Every page has a distinct canonical URL, so ``prepare_pages``' dedup
    keeps every page; about 1/7 of pages are stored under an alias.
    Half of ``corpus_feed_share`` (default 0.2) of the pages are RSS, half
    Atom, the rest HTML."""
    rng = random.Random(seed)
    n_hosts = profile["corpus_hosts"]
    n_pages = profile["corpus_pages"]
    lo, hi = profile["corpus_links"]
    feed_share = profile.get("corpus_feed_share", 0.2)
    # Half the pages go to zipfian hosts (s=1.2: a few mega-hosts exercise
    # the salted politeness window), half uniformly, so every host has
    # enough pages for its budget and the per-round schedule size does not
    # swing with the seed.
    weights = list(
        itertools.accumulate(1.0 / (i + 1) ** 1.2 for i in range(n_hosts))
    )
    zipf = rng.choices(range(n_hosts), cum_weights=weights, k=n_pages)
    hosts = [h if rng.random() < 0.5 else rng.randrange(n_hosts) for h in zipf]
    canon = [f"http://host{h}.example/p/{pid}" for pid, h in enumerate(hosts)]

    urls, htmls, flavors = [], [], []
    for pid in range(n_pages):
        targets = []
        for _ in range(rng.randint(lo, hi)):
            t = canon[rng.randrange(n_pages)]
            targets.append(_alias(t, rng) if rng.random() < 0.25 else t)
        if rng.random() < 0.03:
            targets.append(
                f"http://host{rng.randrange(n_hosts)}.example/missing/{pid}"
            )
        kind = rng.random()
        items = (targets * FEED_ITEMS)[:FEED_ITEMS]
        if kind < feed_share / 2:
            flavor, doc = "rss", _rss_page(rng, pid, items)
        elif kind < feed_share:
            flavor, doc = "atom", _atom_page(rng, pid, items)
        else:
            flavor, doc = "html", _html_page(rng, pid, targets)
        urls.append(_alias(canon[pid], rng) if pid % 7 == 3 else canon[pid])
        htmls.append(doc.encode("utf-8"))
        flavors.append(flavor)

    seed_ids = rng.sample(range(n_pages), profile["corpus_seeds"])
    seeds = [
        _alias(canon[i], rng) if rng.random() < 0.2 else canon[i]
        for i in seed_ids
    ]
    seeds.append("http://host0.example/missing/seed404")

    registries = [
        _registry(rng, urls, flavors) for _ in range(profile["corpus_registries"])
    ]
    return {
        "url": urls,
        "html": htmls,
        "seeds": seeds,
        "robots": _robots_rows(n_hosts),
        "registries": registries,
    }


def _registry(rng: random.Random, urls: list[str], flavors: list[str]) -> list[dict]:
    """One feed registry over every RSS/Atom page, with mixed processor
    ('auto', matching flavor, mismatching flavor, NULL), max_entries (NULL,
    small caps, the engine limit, above it) and publish (true/false/NULL)."""
    rows = []
    for pid, (url, flavor) in enumerate(zip(urls, flavors)):
        if flavor == "html":
            continue
        other = "atom" if flavor == "rss" else "rss"
        rows.append(
            {
                "feed_id": pid,
                "title": f"Feed {pid}",
                "slug": None if rng.random() < 0.5 else f"feed-{pid}",
                "source_url": url,
                "group_name": rng.choice([None, "news", "blogs"]),
                "processor": rng.choice(["auto", "auto", flavor, other, None]),
                "max_entries": rng.choice([None, 2, 3, 5, 100, 150]),
                "publish": rng.choice([True, True, False, None]),
            }
        )
    return rows


def write_atomic_json(path: str, doc) -> None:
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(doc, f, sort_keys=True)
    os.replace(tmp, path)


def ensure_raw(cache_dir: str, profile: dict, seed: int, nfiles: int) -> dict:
    """Generate (once) and return the corpus directory's metadata. The raw
    pages go to ``raw/`` as ``nfiles`` Parquet files of (url, html); seeds,
    robots rows and feed registries go to ``meta.json``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = cache_key(profile, seed)
    cdir = os.path.join(cache_dir, "corpus", key)
    meta_path = os.path.join(cdir, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    c = generate(profile, seed)
    raw = os.path.join(cdir, "raw")
    os.makedirs(raw, exist_ok=True)
    n = len(c["url"])
    step = -(-n // nfiles)
    for i in range(nfiles):
        sl = slice(i * step, (i + 1) * step)
        pq.write_table(
            pa.table(
                {
                    "url": pa.array(c["url"][sl], pa.string()),
                    "html": pa.array(c["html"][sl], pa.binary()),
                }
            ),
            os.path.join(raw, f"part-{i:03d}.parquet"),
        )
    meta = {
        "key": key,
        "dir": cdir,
        "raw": raw,
        "pages": n,
        "html_bytes": sum(len(h) for h in c["html"]),
        "seeds": c["seeds"],
        "robots": c["robots"],
        "registries": c["registries"],
    }
    write_atomic_json(meta_path, meta)
    return meta


def read_raw(meta: dict):
    """The raw pages as a pandas frame (url, html), for the oracles."""
    import pyarrow.parquet as pq

    return pq.read_table(meta["raw"]).to_pandas()


def ensure_prepared(meta: dict, nfiles: int) -> None:
    """The prepared corpus, cached: ``prepare_pages``' output contract,
    one (url_norm, html) row per canonical URL, as zstd Parquet. Its
    directory, keyed by the hash of ``PREPARED_SOURCES``, is set as
    ``meta["prepared"]``.

    It is computed here with the engine's own ``canonicalize_url`` rather
    than by a Spark job. The generator gives every page a distinct
    canonical URL (asserted below), so ``prepare_pages``' dedup keeps every
    row and this table is exactly its output. Doing it without Spark keeps
    a cache miss cheap and leaves the measured JVM equally cold whether or
    not the run had to prepare."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opps_feedcrawler_spark.functions.urlnorm import canonicalize_url

    meta["prepared"] = os.path.join(
        meta["dir"], f"prepared-{source_hash(PREPARED_SOURCES)}"
    )
    done = os.path.join(meta["prepared"], "_SUCCESS")
    if os.path.exists(done):
        return
    raw = pq.read_table(meta["raw"])
    norms = [canonicalize_url(u) for u in raw.column("url").to_pylist()]
    if None in norms or len(set(norms)) != len(norms):
        raise ValueError("generated corpus must have one page per canonical URL")
    table = pa.table(
        {"url_norm": pa.array(norms, pa.string()), "html": raw.column("html")}
    ).sort_by("url_norm")
    os.makedirs(meta["prepared"], exist_ok=True)
    step = -(-len(table) // nfiles)
    for i in range(nfiles):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(meta["prepared"], f"part-{i:03d}.zstd.parquet"),
            compression="zstd",
        )
    open(done, "w").close()
