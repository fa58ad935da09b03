"""Traced run: spans around the engine's public boundaries, folded with
Spark's event log into per-layer metrics.

Three sources, all recorded from the benchmark's side of the API:

1. ``Tracer`` wraps ``plans.crawl.crawl_round`` (and the ``materialize`` /
   ``build_frontier`` / ``cleanup`` callables it returns), ``load_seen`` and
   the ``SnapshotLog`` calls the round loop makes. Each wrapper records a
   span and sets ``spark.job.description`` on its own thread, so the jobs
   of the seven concurrent sinks can be told apart in the event log.
2. ``fold_event_log`` sums task time, executor CPU, Python-worker init and
   run time, shuffle, spill and output bytes per job description.
3. ``replay_round`` splits the fused materialize step: it re-runs one round
   from the state before it through the layer functions one at a time,
   each step persisted and materialized once under its own description.
   ``reconcile`` then checks the replay's row counts against the snapshot
   the engine committed for the same round from the same state, so a
   replay that no longer follows ``crawl_round`` fails the traced run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import threading
import time

DESC = "spark.job.description"
PREFIX = "perfbench"
REPLAY_OP = -1  # span index of the staged replay

ROUND_TABLES = (
    "frontier", "seen_delta", "bloom", "schedule", "fetch_log", "text", "entries",
)


class Tracer:
    """Spans keyed by operation index: ``op`` is set by the runner before
    each operation (REPLAY_OP during the replay)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op = 0
        self._lock = threading.Lock()
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        op = self.op
        prev = self.sc.getLocalProperty(DESC)
        self.sc.setLocalProperty(DESC, f"{PREFIX}:{name}:o{op}")
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty(DESC, prev)
            with self._lock:
                self.spans.append({"name": name, "op": op, "start": t0, "end": t1})

    def _traced(self, name: str, fn):
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _wrap(self, owner, attr: str, name_of) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name_of(*args, **kwargs)):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from opps_feedcrawler_spark.plans import crawl
        from opps_feedcrawler_spark.plans.checkpoint import SnapshotLog

        orig_round = crawl.crawl_round
        tracer = self

        def crawl_round(*args, **kwargs):
            with tracer.span("crawl_round"):
                out = orig_round(*args, **kwargs)
            for key in ("materialize", "build_frontier", "cleanup"):
                out[key] = tracer._traced(key, out[key])
            return out

        crawl.crawl_round = crawl_round
        self._undo.append((crawl, "crawl_round", orig_round))
        self._wrap(SnapshotLog, "write_table", lambda _s, _df, _r, name: f"write.{name}")
        self._wrap(SnapshotLog, "commit", lambda *a, **k: "commit")
        self._wrap(SnapshotLog, "compact_seen", lambda *a, **k: "compact")
        self._wrap(SnapshotLog, "vacuum_engine_state", lambda *a, **k: "vacuum")
        self._wrap(SnapshotLog, "load_table", lambda _s, _sp, _r, name: f"load.{name}")
        self._wrap(crawl, "load_seen", lambda *a, **k: "load.seen")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


# -- event log ---------------------------------------------------------------

EVENTS = tuple(
    f'{{"Event":"SparkListener{e}"'
    for e in ("JobStart", "StageSubmitted", "TaskEnd")
)
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"


def _zero() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0, "cpu_ns": 0,
        "shuffle_write": 0, "spill": 0, "py_init_ms": 0, "py_run_ms": 0,
    }


def fold_event_log(log_dir: str, window: tuple[float, float]) -> dict[str, dict]:
    """Per job description (None for untagged jobs): job, stage and task
    counts, summed task run time and CPU, shuffle-write and spill bytes and
    Python-worker init/run time, over the jobs and stages submitted inside
    ``window`` (epoch seconds)."""
    lo, hi = window[0] * 1000, window[1] * 1000
    stage_desc: dict[int, str | None] = {}
    out: dict[str | None, dict] = {}
    for path in sorted(glob.glob(f"{log_dir}/local-*")):
        with open(path) as f:
            for line in f:
                if not line.startswith(EVENTS):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    if lo <= ev["Submission Time"] <= hi:
                        desc = (ev.get("Properties") or {}).get(DESC)
                        out.setdefault(desc, _zero())["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if lo <= info.get("Submission Time", 0) <= hi:
                        desc = (ev.get("Properties") or {}).get(DESC)
                        stage_desc[info["Stage ID"]] = desc
                        out.setdefault(desc, _zero())["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if ev["Stage ID"] not in stage_desc:
                        continue
                    m = ev.get("Task Metrics") or {}
                    a = out.setdefault(stage_desc.get(ev["Stage ID"]), _zero())
                    a["tasks"] += 1
                    a["task_ms"] += m.get("Executor Run Time", 0)
                    a["cpu_ns"] += m.get("Executor CPU Time", 0)
                    a["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    a["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc["Name"] == PY_INIT:
                            a["py_init_ms"] += int(acc.get("Update") or 0)
                        elif acc["Name"] == PY_RUN:
                            a["py_run_ms"] += int(acc.get("Update") or 0)
    return out


def _parse_desc(desc: str | None):
    """'perfbench:<name>:o<op>' -> (name, op); anything else None."""
    if not desc or not desc.startswith(PREFIX + ":"):
        return None
    _, name, op = desc.split(":")
    return name, int(op[1:])


def by_span(folded: dict) -> dict[tuple[str, int], dict]:
    return {p: agg for desc, agg in folded.items() if (p := _parse_desc(desc))}


def task_shares(folded: dict) -> tuple[float, float]:
    """Shares of the task time inside the folded window that ran under the
    fused ``materialize`` span and under the other, layer-specific spans
    (sinks, commit, compaction, vacuum, loads, frontier build); the rest
    ran untagged. Only the replay splits ``materialize`` into layers."""
    fused = spans = 0
    for desc, a in folded.items():
        p = _parse_desc(desc)
        if p is None:
            continue
        if p[0] == "materialize":
            fused += a["task_ms"]
        else:
            spans += a["task_ms"]
    total = sum(a["task_ms"] for a in folded.values())
    return (fused / total, spans / total) if total else (0.0, 0.0)


def op_phases(spans: list[dict], op: int) -> dict[str, float]:
    """Wall seconds per round-loop phase of one traced operation."""
    dur: dict[str, float] = {}
    writes = []
    for s in spans:
        if s["op"] != op:
            continue
        dur[s["name"]] = dur.get(s["name"], 0.0) + s["end"] - s["start"]
        if s["name"].startswith("write."):
            writes.append(s)
    dur["writes"] = (
        max(s["end"] for s in writes) - min(s["start"] for s in writes) if writes else 0.0
    )
    dur["load"] = sum(v for k, v in dur.items() if k.startswith("load."))
    return dur


# -- staged replay -------------------------------------------------------------


def replay_round(tracer: Tracer, spark, log, round_no: int, pages, seeds, robots) -> dict:
    """Re-run round ``round_no`` from the snapshot before it (or from the
    seeds for round 0) one layer at a time. Every step is persisted and
    materialized exactly once, under the description ``replay.<layer>``,
    so its wall time and its jobs' task metrics belong to that layer
    alone. Counts are read from the cached steps afterwards; ``counts``
    holds the ones ``reconcile`` compares with the committed round."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from opps_feedcrawler_spark.functions.extract import extract_all_udf
    from opps_feedcrawler_spark.functions.urlnorm import with_url_cols
    from opps_feedcrawler_spark.operators.politeness import (
        BUDGET_BASE, MAX_BUDGET, schedule_budgeted, with_global_sequence,
    )
    from opps_feedcrawler_spark.operators.robots import with_robots
    from opps_feedcrawler_spark.operators.seen import (
        NBUCKETS, BITS_PER_BUCKET, build_seen_bloom, bloom_to_broadcast,
        exact_new_urls, merge_blooms, probe_seen_broadcast,
    )
    from opps_feedcrawler_spark.plans.crawl import (
        FRONTIER_COLS, _min_depth_frontier, load_seen, seeds_to_frontier,
    )

    cached = []
    secs: dict[str, float] = {}

    def step(layer: str, df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(df)
        t0 = time.monotonic()
        with tracer.span(f"replay.{layer}"):
            n = df.count()
        secs[layer] = secs.get(layer, 0.0) + time.monotonic() - t0
        return df, n

    def agg(df, *cols):
        with tracer.span("replay.count"):
            return df.agg(*cols).first()

    if round_no == 0:
        frontier = seeds_to_frontier(seeds)
        seen = spark.createDataFrame([], "url_norm string, url_hash long")
        bloom = None
    else:
        frontier = log.load_table(spark, round_no - 1, "frontier")
        seen = load_seen(spark, log, round_no - 1)
        bloom = log.load_table(spark, round_no - 1, "bloom")
    frontier, rows_in = step("input", frontier)

    fr, _ = step("robots", with_robots(frontier, robots))
    disallowed = fr.filter(~F.col("allowed")).select("url_norm", "url_hash")
    n_disallowed = agg(disallowed, F.count(F.lit(1)))[0]
    budget = F.greatest(
        F.lit(1),
        F.least(F.lit(MAX_BUDGET), F.floor(F.lit(BUDGET_BASE) / F.col("crawl_delay"))),
    ).cast("int")
    allowed = fr.filter(F.col("allowed")).withColumn("budget", budget)
    scheduled, n_sched = step(
        "politeness", schedule_budgeted(allowed).drop("budget", "allowed", "crawl_delay")
    )
    sequenced, unpersist_seq = with_global_sequence(scheduled, round_no)
    step("politeness", sequenced)

    hits, n_hits = step(
        "fetch",
        pages.join(F.broadcast(scheduled.select("url_norm")), "url_norm", "left_semi"),
    )
    fetched_bytes = agg(hits, F.sum(F.length("html")))[0] or 0
    parsed, _ = step(
        "extract",
        hits.select(
            "url_norm",
            F.length("html").cast("long").alias("bytes"),
            extract_all_udf("html", "url_norm").alias("ex"),
        ),
    )
    ex = agg(parsed, F.sum(F.size("ex.links")), F.sum(F.size("ex.entries")))
    links = (
        scheduled.select("url_norm", "depth")
        .join(parsed, "url_norm")
        .select(F.explode("ex.links").alias("url"), (F.col("depth") + 1).alias("depth"))
    )
    canon, n_canon = step("urlnorm", with_url_cols(links, "url").select("url_norm", "depth"))
    cand, n_cand = step("dedup", _min_depth_frontier(canon))

    seen_delta, n_delta = step(
        "seen_delta", scheduled.select("url_norm", "url_hash").unionByName(disallowed)
    )
    delta_bloom, n_bloom = step("bloom_build", build_seen_bloom(seen_delta))
    merged = delta_bloom
    if bloom is not None:
        merged, n_bloom = step("bloom_merge", merge_blooms(bloom, delta_bloom))
    t0 = time.monotonic()
    with tracer.span("replay.bloom_broadcast"):
        bcast = bloom_to_broadcast(spark, merged)
    secs["bloom_broadcast"] = time.monotonic() - t0
    bcast_bytes = sum(len(v) for v in bcast.value.values())
    probed, _ = step("probe", probe_seen_broadcast(cand, bcast, NBUCKETS, BITS_PER_BUCKET))
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    n_maybe = agg(maybe, F.count(F.lit(1)))[0]
    new_seen = seen.unionByName(seen_delta)
    exact_new, n_exact_new = step("anti_join", exact_new_urls(maybe, new_seen))
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen").unionByName(exact_new)
    remainder = frontier.join(seen_delta.select("url_norm"), "url_norm", "left_anti")
    _, n_frontier = step("frontier", _min_depth_frontier(
        remainder.select(*FRONTIER_COLS).unionByName(fresh.select(*FRONTIER_COLS))
    ))

    out = {
        "round": round_no,
        "secs": secs,
        "robots.rows_in": rows_in,
        "robots.disallowed": n_disallowed,
        "politeness.rows_in": rows_in - n_disallowed,
        "politeness.scheduled": n_sched,
        "politeness.deferred": rows_in - n_disallowed - n_sched,
        "fetch.hits": n_hits,
        "fetch.misses": n_sched - n_hits,
        "fetch.bytes": int(fetched_bytes),
        "extract.pages": n_hits,
        "extract.bytes_in": int(fetched_bytes),
        "extract.links_out": int(ex[0] or 0),
        "extract.entries_out": int(ex[1] or 0),
        "urlnorm.links_in": int(ex[0] or 0),
        "urlnorm.canonical_out": n_canon,
        "dedup.candidates_in": n_canon,
        "dedup.distinct_out": n_cand,
        "seen.bloom_broadcast_bytes": bcast_bytes,
        "seen.probe_definite_new": n_cand - n_maybe,
        "seen.probe_maybe_seen": n_maybe,
        "seen.exact_dropped": n_maybe - n_exact_new,
        "seen.useful_ratio": (n_cand - n_maybe) / n_cand if n_cand else 0.0,
        "counts": {
            "schedule_rows": n_sched, "fetched_ok": n_hits, "text_rows": n_hits,
            "seen_delta_rows": n_delta, "bloom_rows": n_bloom,
            "frontier_rows": n_frontier,
        },
    }
    bcast.unpersist()
    unpersist_seq()
    for df in cached:
        df.unpersist()
    return out


def reconcile(replay: dict, committed: dict | None) -> dict:
    """Replay counts that differ from the committed round's snapshot
    metrics, as {name: [replay, committed]}; empty when they all agree."""
    if committed is None:
        return {"committed": [None, None]}
    return {
        k: [v, committed.get(k)]
        for k, v in replay["counts"].items()
        if v != committed.get(k)
    }


# -- per-layer metrics -----------------------------------------------------------

# name -> unit, in the order BENCHMARK.json lists them
LAYER_METRICS = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "robots.rows_in": "count", "robots.disallowed": "count", "robots.s": "s",
    "politeness.rows_in": "count", "politeness.scheduled": "count",
    "politeness.deferred": "count", "politeness.s": "s",
    "fetch.hits": "count", "fetch.misses": "count", "fetch.bytes": "B", "fetch.s": "s",
    "extract.pages": "count", "extract.bytes_in": "B", "extract.links_out": "count",
    "extract.entries_out": "count", "extract.s": "s", "extract.py_init_s": "s",
    "extract.py_run_s": "s",
    "urlnorm.links_in": "count", "urlnorm.canonical_out": "count", "urlnorm.s": "s",
    "dedup.candidates_in": "count", "dedup.distinct_out": "count",
    "dedup.shuffle_bytes": "B", "dedup.s": "s",
    "seen.bloom_build_s": "s", "seen.bloom_merge_s": "s",
    "seen.bloom_broadcast_bytes": "B", "seen.probe_s": "s",
    "seen.probe_definite_new": "count", "seen.probe_maybe_seen": "count",
    "seen.exact_dropped": "count", "seen.anti_join_s": "s", "seen.useful_ratio": "ratio",
    **{f"checkpoint.write_s.{t}": "s" for t in ROUND_TABLES},
    **{f"checkpoint.bytes.{t}": "B" for t in ROUND_TABLES},
    "checkpoint.commit_s": "s", "checkpoint.compact_s": "s",
    "checkpoint.vacuum_s": "s", "checkpoint.load_s": "s",
    "round.materialize_s": "s", "round.writes_s": "s", "round.jobs": "count",
    "round.stages": "count", "round.tasks": "count", "round.task_s": "s",
    "round.cpu_s": "s", "round.shuffle_bytes": "B", "round.spill_bytes": "B",
    "round.attributed_ratio": "ratio", "round.materialize_task_share": "ratio",
    "round.span_task_share": "ratio",
    "feeds.register_s": "s", "feeds.process_s": "s", "feeds.entries_raw": "count",
    "feeds.entries_published": "count", "feeds.shuffle_bytes": "B",
}

REPLAY_SECONDS = {
    "robots.s": "robots", "politeness.s": "politeness", "fetch.s": "fetch",
    "extract.s": "extract", "urlnorm.s": "urlnorm", "dedup.s": "dedup",
    "seen.bloom_build_s": "bloom_build", "seen.bloom_merge_s": "bloom_merge",
    "seen.probe_s": "probe", "seen.anti_join_s": "anti_join",
}


def layer_metrics(ref: dict, spans: list[dict], folded_ref: dict,
                  replay: dict, folded_replay: dict,
                  session_s: float, peak_rss_mb: float,
                  passes: list[dict], folded_feeds: dict | None) -> dict[str, float]:
    """Every LAYER_METRICS entry; layers a run does not exercise read 0.

    Everything but ``session.*`` and ``feeds.*`` describes one round:
    ``ref``, the committed round the replay was reconciled with (its span
    index is "op"), with ``folded_ref`` the event log over its window.
    ``passes`` are the traced feeds passes and ``folded_feeds`` the event
    log over them; their figures are medians."""
    m = {k: 0.0 for k in LAYER_METRICS}
    m["session.start_s"] = session_s
    m["session.peak_rss_mb"] = peak_rss_mb
    med = statistics.median

    phases = op_phases(spans, ref["op"])
    acc = _zero()
    for (_, o), agg in by_span(folded_ref).items():
        if o == ref["op"]:
            for k in acc:
                acc[k] += agg[k]
    for t in ROUND_TABLES:
        m[f"checkpoint.write_s.{t}"] = phases.get(f"write.{t}", 0.0)
        m[f"checkpoint.bytes.{t}"] = ref["tables"].get(t, 0)
    for key, ph in (("checkpoint.commit_s", "commit"), ("checkpoint.compact_s", "compact"),
                    ("checkpoint.vacuum_s", "vacuum"), ("checkpoint.load_s", "load"),
                    ("round.materialize_s", "materialize"), ("round.writes_s", "writes")):
        m[key] = phases.get(ph, 0.0)
    for key, field, scale in (("round.jobs", "jobs", 1), ("round.stages", "stages", 1),
                              ("round.tasks", "tasks", 1), ("round.task_s", "task_ms", 1e-3),
                              ("round.cpu_s", "cpu_ns", 1e-9),
                              ("round.shuffle_bytes", "shuffle_write", 1),
                              ("round.spill_bytes", "spill", 1)):
        m[key] = acc[field] * scale
    fused, other = task_shares(folded_ref)
    m["round.materialize_task_share"] = fused
    m["round.span_task_share"] = other
    m["round.attributed_ratio"] = fused + other

    for key in LAYER_METRICS:
        if key in replay:
            m[key] = replay[key]
    for key, step in REPLAY_SECONDS.items():
        m[key] = replay["secs"].get(step, 0.0)
    rs = by_span(folded_replay)
    ex = rs.get(("replay.extract", REPLAY_OP), _zero())
    m["extract.py_init_s"] = ex["py_init_ms"] / 1000
    m["extract.py_run_s"] = ex["py_run_ms"] / 1000
    m["dedup.shuffle_bytes"] = rs.get(("replay.dedup", REPLAY_OP), _zero())["shuffle_write"]

    if passes:
        feeds_by = by_span(folded_feeds)
        phases = [op_phases(spans, o["op"]) for o in passes]
        m["feeds.register_s"] = med(p.get("feeds.register", 0.0) for p in phases)
        m["feeds.process_s"] = med(p.get("feeds.process", 0.0) for p in phases)
        m["feeds.entries_raw"] = med(o["entries_raw"] for o in passes)
        m["feeds.entries_published"] = med(o["entries"] for o in passes)
        m["feeds.shuffle_bytes"] = med(
            feeds_by.get(("feeds.process", o["op"]), _zero())["shuffle_write"] for o in passes
        )
    return m
