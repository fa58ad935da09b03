#!/usr/bin/env python3
"""Benchmark of the crawl engine: ``plans.crawl.run_crawl`` and
``plans.feeds.process_feeds`` on one ``local[nproc]`` Spark session.

    python3 perfbench/run.py --workload crawl_head --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads, metrics and the traced run are
described in perfbench/README.md. The last stdout line is one JSON object
with the keys correct, attempted, failed and metrics; the line before it
holds the run's detail (profile, hardware probes, per-operation figures).
Caches and scratch files go to ``.perfbench/`` under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

# Sizes for a 4-core box; size_profile scales pages, hosts and seeds with
# nproc and shrinks them if free disk is short.
BASE_PROFILES = {
    # Fresh crawl, budgets large enough that politeness defers nothing:
    # every timed round is round 0 of a new warehouse and schedules ~15.4k
    # pages, so parse, fetch and link canonicalization dominate.
    "crawl_head": {
        "corpus_hosts": 2000,
        "corpus_pages": 17000,
        "corpus_seeds": 16000,
        "corpus_links": [2, 6],
        "corpus_registries": 4,
        "budget_base": 10000,
        "max_budget": 100000,
        "fresh_each_op": True,
        "max_ops": 4,
    },
    # One or two pages per host per round on a small, link-dense corpus:
    # round 0 is the warmup and the timed round 1 schedules ~1k pages
    # against a frontier over 5x larger, so per-round fixed cost dominates.
    "crawl_tail": {
        "corpus_hosts": 800,
        "corpus_pages": 10000,
        "corpus_seeds": 5000,
        "corpus_links": [8, 16],
        # half the pages are feeds, so the ~1k-page round's entry count
        # varies little between seeds
        "corpus_feed_share": 0.5,
        "corpus_registries": 0,
        "budget_base": 1,
        "max_budget": 4,
        "fresh_each_op": False,
        "max_ops": 2,
    },
}

# crawl_head's traced run makes one process_feeds pass per registry variant,
# up to FEED_PASSES, over the same corpus; FEED_OPS is the first's span index.
FEED_OPS = 1000
FEED_PASSES = 3
# run_crawl compacts after round r when r > 0 and (r + 1) % k == 0: with
# k = 1 every round after round 0, timed or traced, pays compaction
COMPACT_SEEN_EVERY = 1
VACUUM_KEEP = 1
BYTES_PER_PAGE = 4 * 1100  # raw + prepared copy + snapshot text, with slack


def size_profile(name: str, nproc: int, free_bytes: int) -> dict:
    p = dict(BASE_PROFILES[name])
    scale = nproc / 4
    if p["corpus_pages"] * scale * BYTES_PER_PAGE > free_bytes / 10:
        scale = free_bytes / 10 / (p["corpus_pages"] * BYTES_PER_PAGE)
    for k in ("corpus_hosts", "corpus_pages", "corpus_seeds"):
        p[k] = max(1, int(p[k] * scale))
    p["cores"] = nproc
    p["scale"] = round(scale, 4)
    return p


def warmup_profile(p: dict) -> dict:
    """A small corpus of the same shape, generated from a fixed seed: the
    warmup round compiles and forks the same code paths as the timed
    rounds, identically in every run."""
    w = dict(p)
    w["corpus_pages"] = min(p["corpus_pages"], 600)
    w["corpus_hosts"] = min(p["corpus_hosts"], 60)
    w["corpus_seeds"] = min(p["corpus_seeds"], w["corpus_pages"] // 2)
    w["corpus_registries"] = 1
    return w


def _environment(profile: dict) -> None:
    """Everything the engine reads from the environment at import time, and
    every scratch path, pointed inside the repository."""
    os.environ["OFS_BUDGET_BASE"] = str(profile["budget_base"])
    os.environ["OFS_MAX_BUDGET"] = str(profile["max_budget"])
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    # spark-submit's launcher JVM: no hsperfdata files under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"])
    )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


# -- workloads -----------------------------------------------------------------


def _seeds_and_robots(spark, meta: dict):
    import pandas as pd

    from corpus import ROBOTS_COLUMNS, ROBOTS_SCHEMA

    return (
        spark.createDataFrame(pd.DataFrame({"url": meta["seeds"]})),
        spark.createDataFrame(
            pd.DataFrame(meta["robots"], columns=ROBOTS_COLUMNS), ROBOTS_SCHEMA
        ),
    )


class CrawlWorkload:
    def __init__(self, spark, profile: dict, meta: dict, expected: dict, run_dir: str):
        self.spark, self.profile = spark, profile
        self.expected = expected["rounds"]
        self.run_dir = run_dir
        self.seeds, self.robots = _seeds_and_robots(spark, meta)
        self.pages = None
        self.log = None
        self.first_round = 0
        self.done = False

    def warmup(self, warm_meta: dict) -> None:
        """crawl_head: one round on the small warmup corpus, thrown away.
        crawl_tail: round 0 of the measured crawl itself; the timed rounds
        continue from its snapshot, so they run against a grown frontier
        and a non-empty seen set."""
        from opps_feedcrawler_spark.plans.crawl import run_crawl

        if not self.profile["fresh_each_op"]:
            self._round(os.path.join(self.run_dir, "wh"), 0)
            self.first_round = 1
            return
        wh = os.path.join(self.run_dir, "warmup")
        run_crawl(
            self.spark,
            self.spark.read.parquet(warm_meta["prepared"]),
            *_seeds_and_robots(self.spark, warm_meta),
            wh,
            rounds=1,
            pages_prepared=True,
            compact_seen_every=COMPACT_SEEN_EVERY,
            vacuum_keep=VACUUM_KEEP,
        )
        shutil.rmtree(wh, ignore_errors=True)

    def _round(self, wh: str, r: int):
        """Run (resume) the crawl in ``wh`` up to and including round r."""
        from opps_feedcrawler_spark.plans.crawl import run_crawl

        self.log = run_crawl(
            self.spark, self.pages, self.seeds, self.robots, wh, rounds=r + 1,
            pages_prepared=True, compact_seen_every=COMPACT_SEEN_EVERY,
            vacuum_keep=VACUUM_KEEP,
        )

    def op(self, k: int) -> dict:
        from checks import engine_crawl_digest

        if self.profile["fresh_each_op"]:
            wh = os.path.join(self.run_dir, f"wh-{k}")
            r = 0
        else:
            wh = os.path.join(self.run_dir, "wh")
            r = self.first_round + k
        t0 = time.monotonic()
        self._round(wh, r)
        dt = time.monotonic() - t0
        snap = self.log.read_snapshot(r)
        m = snap["metrics"]
        written = sum(f["bytes"] for t in snap["tables"].values() for f in t["files"])
        counts = {c: m[c] for c in (
            "schedule_rows", "fetched_ok", "text_rows", "seen_delta_rows",
            "bloom_rows", "frontier_rows",
        )}
        base = os.path.join(self.log.data_dir, f"seen_base={r}")
        if os.path.isdir(base):
            written += _dir_bytes(base)
        urls = m["schedule_rows"] + m["fetch_log_rows"] + m["text_rows"] + m["entries_rows"]
        ok = r < len(self.expected) and engine_crawl_digest(self.log, r) == self.expected[r]
        self.done = m["frontier_rows"] == 0
        if self.profile["fresh_each_op"]:
            shutil.rmtree(os.path.join(self.run_dir, f"wh-{k - 1}"), ignore_errors=True)
        return {
            "round": r, "s": dt, "ok": ok, "pages": m["schedule_rows"], "urls": urls,
            "entries": m["entries_rows"], "bytes": written,
            "frontier": m["frontier_rows"], "counts": counts, "tables": {
                t: sum(f["bytes"] for f in v["files"]) for t, v in snap["tables"].items()
            },
        }


class FeedsPasses:
    """Traced ``register_feeds`` + ``process_feeds`` passes, one registry
    variant per pass, each output written as zstd Parquet and checked."""

    def __init__(self, spark, meta: dict, expected: dict, pages, tracer, run_dir: str):
        from opps_feedcrawler_spark.plans.feeds import FEEDS_SCHEMA

        self.pages, self.tracer, self.run_dir = pages, tracer, run_dir
        self.expected = expected["variants"]
        self.registries = [
            spark.createDataFrame(_registry_rows(reg), FEEDS_SCHEMA)
            for reg in meta["registries"]
        ]

    def op(self, k: int) -> dict:
        from checks import engine_feeds_digest
        from opps_feedcrawler_spark.plans.feeds import process_feeds, register_feeds

        v = k % len(self.registries)
        out = os.path.join(self.run_dir, f"feeds-{k}")
        t0 = time.monotonic()
        with self.tracer.span("feeds.register"):
            registered = register_feeds(self.registries[v]).cache()
            registered.count()
        with self.tracer.span("feeds.process"):
            process_feeds(registered, self.pages).write.mode("overwrite").option(
                "compression", "zstd"
            ).parquet(out)
        registered.unpersist()
        dt = time.monotonic() - t0
        exp = self.expected[v]
        digest, n = engine_feeds_digest(out)
        written = _dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return {
            "variant": v, "s": dt, "ok": digest == exp["digest"],
            "entries": n, "bytes": written, "entries_raw": exp["entries_raw"],
        }


def _registry_rows(registry: list[dict]) -> list[tuple]:
    cols = ("feed_id", "title", "slug", "source_url", "group_name", "processor",
            "max_entries", "publish")
    return [tuple(r[c] for c in cols) for r in registry]


def _attempt(wl, k: int) -> dict:
    """Operation k, timed and checked; one that raises counts as failed
    and ends the run's operations."""
    t0 = time.time()
    try:
        res = wl.op(k)
    except Exception as e:
        traceback.print_exc()
        print(f"perfbench: operation {k} failed: {e!r}", file=sys.stderr)
        res = {"s": 0.0, "ok": False, "pages": 0, "urls": 0,
               "entries": 0, "bytes": 0, "error": repr(e)}
        wl.done = True
    res["op"] = k
    res["window"] = (t0, time.time())
    return res


# -- main ------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(BASE_PROFILES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("opps_feedcrawler_spark/__init__.py", "tests/oracle_crawler.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    nproc = os.cpu_count() or 1
    os.makedirs(CACHE, exist_ok=True)
    profile = size_profile(args.workload, nproc, shutil.disk_usage(CACHE).free)
    _environment(profile)

    import checks
    import corpus
    import sparkctl
    import sysprobe

    t_run = time.monotonic()
    run_dir = os.path.join(CACHE, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    fresh = profile["fresh_each_op"]

    probe_pre = sysprobe.hardware_probe(nproc)

    # Inputs and their expected outputs: generated, prepared and cached,
    # untimed.
    t0 = time.monotonic()
    meta = corpus.ensure_raw(CACHE, profile, args.seed, nfiles=nproc)
    warm_meta = corpus.ensure_raw(CACHE, warmup_profile(profile), 0, nfiles=nproc)
    for m in (meta, warm_meta):
        corpus.ensure_prepared(m, nfiles=nproc)
    pages_pdf = None
    # crawl_tail: round 0 is the warmup, then the timed rounds, then the
    # round a traced run commits after its replay
    tag_rounds = 1 if fresh else profile["max_ops"] + 2
    if not os.path.exists(os.path.join(meta["dir"], checks.oracle_file(tag_rounds))):
        pages_pdf = corpus.read_raw(meta)
    expected = checks.oracle_crawl_digests(meta, pages_pdf, tag_rounds, nproc if fresh else 1)
    # the plans.feeds layer of crawl_head's traced run
    feeds_expected = None
    if args.trace and profile["corpus_registries"]:
        if not os.path.exists(os.path.join(meta["dir"], checks.feeds_file())):
            pages_pdf = pages_pdf if pages_pdf is not None else corpus.read_raw(meta)
        feeds_expected = checks.expected_feeds(meta, pages_pdf)
    del pages_pdf
    inputs_s = time.monotonic() - t0

    # Setup: session start, reading the cached prepared corpus, one warmup
    # round.
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    t0 = time.monotonic()
    spark = sparkctl.start_spark(run_dir, args.workload, nproc, event_dir)
    session_s = time.monotonic() - t0
    try:
        wl = CrawlWorkload(spark, profile, meta, expected, run_dir)
        t0 = time.monotonic()
        from pyspark.sql import functions as F

        wl.pages = spark.read.parquet(meta["prepared"])
        wl.pages.select(F.sum(F.length("html"))).collect()
        read_s = time.monotonic() - t0
        t0 = time.monotonic()
        wl.warmup(warm_meta)
        warmup_s = time.monotonic() - t0
        setup_s = session_s + read_s + warmup_s

        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
            tracer.install()
        ops: list[dict] = []
        timed = 0.0
        with sysprobe.RssSampler() as rss:
            # at least one operation; more only while the window lasts
            while len(ops) < profile["max_ops"] and not wl.done and (
                not ops or timed < args.seconds
            ):
                if tracer is not None:
                    tracer.op = len(ops)
                ops.append(_attempt(wl, len(ops)))
                timed += ops[-1]["s"]
        replay = ref = None
        extra_ops: list[dict] = []
        feed_ops: list[dict] = []
        if args.trace and not wl.done:
            # The staged replay splits one round's fused materialize step.
            # Its counts are reconciled with the round the engine committed
            # from the same state, and every round-level metric comes from
            # that one round. crawl_head: round 0 again from the seeds, as
            # the last timed round committed it. crawl_tail: the round after
            # the last timed one (the state before that is vacuumed), which
            # the engine then commits, traced.
            ref = ops[-1]
            r = ref["round"] + (0 if fresh else 1)
            tracer.op = tracing.REPLAY_OP
            rw0 = time.time()
            replay = tracing.replay_round(
                tracer, spark, wl.log, r, wl.pages, wl.seeds, wl.robots
            )
            replay_window = (rw0, time.time())
            if not fresh:
                tracer.op = len(ops)
                ref = _attempt(wl, len(ops))
                extra_ops.append(ref)
            replay["mismatch"] = tracing.reconcile(replay, ref.get("counts"))
            if replay["mismatch"]:
                print(f"perfbench: replay of round {r} does not match the committed "
                      f"round: {replay['mismatch']}", file=sys.stderr)
            if feeds_expected is not None:
                # one traced pass per registry variant, over the same corpus
                fw = FeedsPasses(spark, meta, feeds_expected, wl.pages, tracer, run_dir)
                feeds_window = [time.time()]
                for k in range(min(FEED_PASSES, len(fw.registries))):
                    tracer.op = FEED_OPS + k
                    res = fw.op(k)
                    res["op"] = FEED_OPS + k
                    feed_ops.append(res)
                feeds_window.append(time.time())
        if tracer is not None:
            tracer.uninstall()
    finally:
        t0 = time.monotonic()
        sparkctl.stop_spark(spark)
        stop_s = time.monotonic() - t0
    layers = None
    if args.trace and replay is not None and not replay["mismatch"]:
        # the event log is complete once the session has stopped
        layers = tracing.layer_metrics(
            ref, tracer.spans,
            tracing.fold_event_log(event_dir, ref["window"]),
            replay,
            tracing.fold_event_log(event_dir, replay_window),
            session_s,
            rss.peak / 2**20,
            feed_ops,
            tracing.fold_event_log(event_dir, tuple(feeds_window)) if feed_ops else None,
        )

    probe_post = sysprobe.hardware_probe(nproc)
    # a traced run whose replay could not run or disagrees with the
    # committed round fails as one more operation
    oks = [o["ok"] for o in ops + extra_ops + feed_ops]
    if args.trace:
        oks.append(layers is not None)
    failed = sum(not ok for ok in oks)
    secs = sum(o["s"] for o in ops) or float("nan")
    urls = sum(o["urls"] for o in ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "pages_per_s": (sum(o["pages"] for o in ops) / secs, "1/s"),
        "urls_per_s": (urls / secs, "1/s"),
        "entries_per_s": (sum(o["entries"] for o in ops) / secs, "1/s"),
        "round_s_p50": (statistics.median(o["s"] for o in ops), "s"),
        "bytes_per_url": (sum(o["bytes"] for o in ops) / max(urls, 1), "B"),
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "profile": profile,
        "corpus_key": meta["key"],
        "prepared": os.path.basename(meta["prepared"]),
        "oracle_file": checks.oracle_file(tag_rounds),
        "corpus_pages": meta["pages"],
        "corpus_html_bytes": meta["html_bytes"],
        "hosts": profile["corpus_hosts"],
        "seeds": len(meta["seeds"]),
        "budgets": {"base": profile["budget_base"], "max": profile["max_budget"]},
        "rounds": [o.get("round") for o in ops],
        "ops": ops,
        "extra_ops": extra_ops,
        "feed_ops": feed_ops,
        "error_rate": failed / len(oks),
        "setup": {"session_s": session_s, "warmup_s": warmup_s, "read_s": read_s},
        "untimed": {"inputs_s": inputs_s, "stop_s": stop_s},
        "oracle_s": expected.get("oracle_s"),
        "oracle_serial_s": expected.get("oracle_serial_s"),
        "probe_pre": probe_pre,
        "probe_post": probe_post,
        "peak_rss_mb": rss.peak / 2**20,
        "wall_s": time.monotonic() - t_run,
    }
    if args.trace:
        detail["replay"] = replay
        detail["ref_op"] = ref["op"] if ref else None
        detail["spans"] = tracer.spans
        out_metrics = {
            k: {"value": v, "unit": tracing.LAYER_METRICS[k]}
            for k, v in (layers or {}).items()
        }
    else:
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    with open(os.path.join(
        CACHE, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json"
    ), "w") as f:
        json.dump({"detail": detail, "metrics": out_metrics}, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(oks),
        "failed": failed,
        "metrics": out_metrics,
    }))
    return 0


def run() -> int:
    """``main``, then stop every process it started, on every way out of it
    (a result, an exception, SIGTERM), and wait until each has ended."""
    import sparkctl  # perfbench/ is on sys.path as the script's directory

    sparkctl.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return main()
    finally:
        left = sparkctl.reap_all()
        if left:
            print(f"perfbench: processes {left} did not end", file=sys.stderr)
            sys.stdout.flush()
            os._exit(1)


if __name__ == "__main__":
    sys.exit(run())
