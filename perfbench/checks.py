"""Correctness gate: every timed crawl round and feeds pass is checked
against an independent computation on the same inputs.

Crawl rounds are compared with the single-threaded ``OracleCrawler``
(tests/oracle_crawler.py) through three digests per round: the scheduled
order, the cumulative URL-seen set and the extracted text per URL. The
oracle runs once per (profile, seed) and its digests are cached next to
the corpus, outside every timing.

Feeds passes are compared with a plain-Python evaluation of the registry
contract over ``extract_entries_py``: canonicalized feed URL, RSS/Atom
sniff against ``processor``, dedup by guid-else-link-else-position in
document order, then the ``max_entries`` cap over the survivors, then the
``publish`` filter.

Engine outputs are read back from the written Parquet with pyarrow, so no
check adds a Spark job.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time

import pyarrow.parquet as pq

from corpus import source_hash, write_atomic_json

# Sources the cached expected outputs are computed with (see
# corpus.source_hash). The oracle crawl calls the engine's pure functions
# for URL canonicalization, extraction, politeness budgets and robots
# rules. The feeds contract check calls extraction and canonicalization
# only: it is independent of plans/feeds by design, so a change there must
# not change what it expects.
_EXTRACT = ("opps_feedcrawler_spark/functions/extract.py", "opps_feedcrawler_spark/schemas.py")
_URLNORM = ("opps_feedcrawler_spark/functions/urlnorm.py",)
ORACLE_SOURCES = _URLNORM + _EXTRACT + (
    "opps_feedcrawler_spark/operators/politeness.py",
    "opps_feedcrawler_spark/operators/robots.py",
    "tests/oracle_crawler.py",
    "perfbench/checks.py",
)
FEEDS_SOURCES = _URLNORM + _EXTRACT + ("perfbench/checks.py",)


def _sha(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def crawl_digest(order: list[str], seen, texts: dict[str, str]) -> dict:
    return {
        "schedule": _sha(order),
        "seen": _sha(sorted(seen)),
        "text": _sha(f"{u}\t{texts[u]}" for u in sorted(texts)),
        "scheduled": len(order),
    }


def oracle_file(rounds: int) -> str:
    from opps_feedcrawler_spark.operators.politeness import BUDGET_BASE, MAX_BUDGET

    return (
        f"oracle-crawl-b{BUDGET_BASE:g}-m{MAX_BUDGET}-r{rounds}"
        f"-{source_hash(ORACLE_SOURCES)}.json"
    )


def _extract_chunk(chunk):
    from opps_feedcrawler_spark.functions.extract import (
        extract_entries_py, extract_links_py, extract_text_py,
    )

    t0 = time.process_time()
    out = [
        (extract_text_py(h), extract_entries_py(h), extract_links_py(h, base))
        for h, base in zip(*chunk)
    ]
    return out, time.process_time() - t0


def _extract_all(pages_pdf, workers: int):
    """Per-page (text, entries, links) from the same pure functions the
    oracle calls, computed over ``workers`` processes and keyed by the
    page's html (every generated page is distinct)."""
    import multiprocessing as mp

    from opps_feedcrawler_spark.functions.urlnorm import canonicalize_url

    htmls = [bytes(h) for h in pages_pdf["html"]]
    bases = [canonicalize_url(u) for u in pages_pdf["url"]]
    chunks = [(htmls[i::workers], bases[i::workers]) for i in range(workers)]
    with mp.get_context("spawn").Pool(workers) as pool:
        results = pool.map(_extract_chunk, chunks)
    memo, cpu = {}, 0.0
    for (hs, _), (res, secs) in zip(chunks, results):
        memo.update(zip(hs, res))
        cpu += secs
    return memo, cpu


def oracle_crawl_digests(meta: dict, pages_pdf, rounds: int, workers: int = 1) -> dict:
    """Digests of rounds 0..rounds-1 of the oracle crawl, cached per corpus
    and budget setting.

    The round logic is ``OracleCrawler`` unchanged. With ``workers`` > 1
    its per-page extraction calls are answered from a table computed up
    front over that many processes with the same functions (worth it when
    the checked rounds fetch most of the corpus). ``oracle_s`` is the wall
    time; ``oracle_serial_s`` adds up the extraction CPU time and the serial
    rounds, the single-threaded baseline for the same rounds."""
    import tests.oracle_crawler as oc

    path = os.path.join(meta["dir"], oracle_file(rounds))
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import pandas as pd

    t0 = time.monotonic()
    saved = oc.extract_text_py, oc.extract_entries_py, oc.extract_links_py
    extract_cpu = 0.0
    if workers > 1:
        memo, extract_cpu = _extract_all(pages_pdf, workers)
        oc.extract_text_py = lambda h: memo[h][0]
        oc.extract_entries_py = lambda h: memo[h][1]
        oc.extract_links_py = lambda h, _base: memo[h][2]
    t1 = time.monotonic()
    try:
        oracle = oc.OracleCrawler(pages_pdf, pd.DataFrame(meta["robots"]), meta["seeds"])
        digests = []
        for r in range(rounds):
            if not oracle.frontier:
                break
            order = oracle.run_round(r)
            texts = {u: oracle.texts[u] for u in order if u in oracle.texts}
            digests.append(crawl_digest(order, oracle.seen, texts))
    finally:
        oc.extract_text_py, oc.extract_entries_py, oc.extract_links_py = saved
    t2 = time.monotonic()
    doc = {
        "rounds": digests,
        "oracle_s": t2 - t0,
        "oracle_serial_s": extract_cpu + (t2 - t1),
    }
    write_atomic_json(path, doc)
    return doc


def engine_crawl_digest(log, round_no: int) -> dict:
    """The same digests, read from the snapshot the engine committed."""
    snap = log.read_snapshot(round_no)
    sched = pq.read_table(
        snap["tables"]["schedule"]["path"], columns=["seq", "url_norm"]
    ).sort_by("seq")
    seen: set[str] = set()
    for r in range(round_no + 1):
        path = log.read_snapshot(r)["tables"]["seen_delta"]["path"]
        seen.update(pq.read_table(path, columns=["url_norm"]).column(0).to_pylist())
    text = pq.read_table(snap["tables"]["text"]["path"], columns=["url", "text"])
    texts = dict(zip(text.column(0).to_pylist(), text.column(1).to_pylist()))
    return crawl_digest(sched.column("url_norm").to_pylist(), seen, texts)


# -- feeds -------------------------------------------------------------------

_RSS = re.compile(r"(?i)<\s*rss[\s>]")
_ATOM = re.compile(r"(?i)<\s*feed[\s>]")
_SLUG = re.compile(r"[^a-z0-9]+")
ENGINE_MAX_ENTRIES = 100


def _flavor(html: bytes) -> str:
    head = html[:2048].decode("utf-8", errors="replace")
    rss, atom = _RSS.search(head), _ATOM.search(head)
    if rss and (atom is None or rss.start() < atom.start()):
        return "rss"
    return "atom" if atom else "html"


def _ts_micros(ts) -> str:
    if ts is None:
        return ""
    import pandas as pd

    return str(pd.Timestamp(ts).tz_localize(None).value // 1000)


def _entry_line(feed_id, slug, group, guid, title, link, ts, summary, pos) -> str:
    return "\t".join(
        "" if v is None else str(v)
        for v in (feed_id, slug, group, guid, title, link, _ts_micros(ts), summary, pos)
    )


def feeds_file() -> str:
    return f"expected-feeds-{source_hash(FEEDS_SOURCES)}.json"


def expected_feeds(meta: dict, pages_pdf) -> dict:
    """Per registry variant: the digest and counts of the published entries
    a correct ``process_feeds`` pass must return. Cached per corpus and
    ``FEEDS_SOURCES``."""
    from opps_feedcrawler_spark.functions.extract import extract_entries_py
    from opps_feedcrawler_spark.functions.urlnorm import canonicalize_url

    path = os.path.join(meta["dir"], feeds_file())
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    t0 = time.monotonic()
    pages = {canonicalize_url(u): bytes(h) for u, h in zip(pages_pdf["url"], pages_pdf["html"])}
    parsed: dict[str, list[dict]] = {}
    variants = []
    for registry in meta["registries"]:
        lines, fetched, raw = [], 0, 0
        for row in registry:
            url = canonicalize_url(row["source_url"])
            html = pages.get(url) if url is not None else None
            if html is None:
                continue
            fetched += 1
            processor = row["processor"] or "auto"
            if processor != "auto" and processor != _flavor(html):
                continue
            if url not in parsed:
                parsed[url] = extract_entries_py(html)
            entries = parsed[url]
            raw += len(entries)
            cap = ENGINE_MAX_ENTRIES
            if row["max_entries"] is not None:
                cap = min(row["max_entries"], ENGINE_MAX_ENTRIES)
            publish = True if row["publish"] is None else row["publish"]
            slug = row["slug"] or _SLUG.sub("-", row["title"].strip(" ").lower())
            group = row["group_name"] or "default"
            keys, kept = set(), 0
            for pos, e in enumerate(entries):
                key = e["entry_guid"] or e["link"] or f"::pos-{pos}"
                if key in keys:
                    continue
                keys.add(key)
                kept += 1
                if kept > cap:
                    break
                if publish:
                    lines.append(
                        _entry_line(
                            row["feed_id"], slug, group, e["entry_guid"] or e["link"],
                            e["title"] and e["title"].strip(" "), e["link"],
                            e["published_ts"], e["summary"] and e["summary"].strip(" "),
                            pos,
                        )
                    )
        variants.append(
            {
                "digest": _sha(sorted(lines)),
                "published": len(lines),
                "fetched": fetched,
                "entries_raw": raw,
                "registered": len(registry),
            }
        )
    doc = {"variants": variants, "oracle_s": time.monotonic() - t0}
    write_atomic_json(path, doc)
    return doc


FEED_COLUMNS = [
    "feed_id", "slug", "group_name", "entry_guid", "title", "link",
    "published_ts", "summary", "pos",
]


def engine_feeds_digest(out_dir: str) -> tuple[str, int]:
    t = pq.read_table(out_dir, columns=FEED_COLUMNS).to_pylist()
    return _sha(sorted(_entry_line(*(r[c] for c in FEED_COLUMNS)) for r in t)), len(t)
