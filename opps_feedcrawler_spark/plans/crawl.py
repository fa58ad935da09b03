"""The crawl-round driver — the engine's flagship dataflow (SURVEY.md §3.1).

What the reference does serially per feed (Celery beat → processor →
feedparser fetch+parse → per-entry SELECT-dedup → ORM INSERT → update
last_polled_time; behavior-level [PK], SURVEY.md §3.1) becomes one
declarative DataFrame round:

  frontier → [seen anti-join] → [robots filter] → [salted politeness top-k]
           → [fetch = join pages corpus] → [ONE fused Arrow-UDF parse →
             text+links+entries] → new frontier candidates → snapshot commit

Round semantics (pinned; the single-threaded oracle in
tests/oracle_crawler.py implements the SAME rules so scheduled order, the
URL-seen set and extracted text match exactly — BASELINE.json:6,14):

 R1  candidates = whole frontier (already canonical, not in seen)
 R2  robots verdict: disallowed rows leave the frontier AND enter `seen`
     (processed-but-not-fetched) so links cannot resurrect them
 R3  per-host budget = budget_for_delay(crawl_delay)
 R4  scheduled = per-host top-budget by (priority DESC, url_norm ASC);
     global order seq by the same key
 R5  seen += scheduled ∪ disallowed
 R6  fetch = left join against the pages corpus on url_norm
     (sandbox has no network — SURVEY.md A11). Three interchangeable
     fetch_mode stages, nothing else changes: "corpus" broadcast-semi
     (default), "bucketed" co-located semi against a url_norm-bucketed
     warehouse table (schedules too large to broadcast — zero blob
     exchange, see prepare_pages_bucketed), "http" mapInPandas fetcher
     with per-partition connection pools (sources/httpfetch.py)
 R7  extract: ONE fused parse (A12+A13+A14) — text, canonical links
     (url_norm; links that do not canonicalize are dropped), entries
 R8  new candidates = links, depth=parent+1, dedup by url_norm keeping
     MIN depth, anti-join seen, pre-filtered by the bloom (built, merged
     and probed in one co-partitioned stage; only bloom-positives reach
     the anti-join)
 R9  frontier' = (frontier - scheduled - disallowed) ∪ new candidates,
     dedup by url_norm keeping MIN depth
 R10 commit snapshot(round): frontier, seen_delta, bloom, schedule,
     fetch_log, text, entries + metrics (A16-A18)

Scale design decisions (the 100 TB story, each one load-bearing):
- ONE parse per fetched page: the fused extract_all_udf output is persisted
  for the round, so the 4 tables derived from it (fetch_log/text/entries/
  frontier candidates) never re-trigger the join or the Python worker.
  More generally every Python stage of a round runs once over its input:
  the parse also canonicalizes the links, the bloom's build, merge and
  probe run as one persisted stage whose table is split into the bloom
  sink and the probed candidates (operators/seen.bloom_and_probe), and
  run_crawl canonicalizes the seeds once for all of round 0's consumers.
- `seen` is stored as PER-ROUND DELTAS, never rewritten: the cumulative
  seen set at 10^10 URLs is the biggest table in the system; each snapshot
  appends only that round's scheduled∪disallowed rows (provably disjoint
  from all prior deltas). Each delta stores url_norm alone: url_hash is
  xxhash64(url_norm), re-derived in codegen on read, the same rule as the
  frontier's (url_norm, depth) (checkpoint.DERIVED_COLUMNS). load_seen()
  unions delta files with the schema and read columns their manifests
  recorded — a metadata-only operation, no Spark job.
- the bloom filter is maintained INCREMENTALLY (bloom_and_probe ORs the
  round-delta's bits into the previous round's bitsets, co-partitioned by
  bucket, so no task holds more than one bucket's bitset and nothing of
  the filter passes through the driver) and is itself snapshotted, so
  resume never rebuilds it from the full seen set.
- per-round metrics/lineage come from Parquet footers (zero Spark jobs).

Determinism: every ordering carries the (priority DESC, url_norm ASC)
total-order key; depth ties collapse via min(depth); all UDFs pure; no wall
clock in the data path. A resume from snapshot k therefore replays rounds
k+1..K bit-for-bit (BASELINE.json:6; tests/test_resume.py).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.extract import extract_all_udf
from ..functions.urlnorm import with_url_cols
from ..operators.politeness import (
    BUDGET_BASE,
    MAX_BUDGET,
    schedule_budgeted,
    with_global_sequence,
)
from ..operators.robots import with_robots
from ..operators.seen import bloom_and_probe, exact_new_urls, split_seen_table
from .checkpoint import DERIVED_COLUMNS, SnapshotLog

logger = logging.getLogger(__name__)

MAX_ENTRIES_PER_PAGE = 100  # the reference caps entries per feed [PK]

FRONTIER_COLS = ["url_norm", "host", "url_hash", "salt", "depth", "priority"]


def prepare_pages(pages: DataFrame) -> DataFrame:
    """One-time corpus ingestion: canonicalize urls, dedup to one page per
    url_norm (content-hash winner — deterministic regardless of input
    order/partitioning).

    Plan shape matters here because rows carry the html blob (the wide
    column); naive forms blow up at corpus scale:
    - dropDuplicates/groupBy-first on a binary column compiles to a map-side
      SortAggregate that sorts EVERY input partition's full blob rows before
      the shuffle — N concurrent multi-hundred-MB sorts;
    - a scalar pandas UDF (with_url_cols) on a DataFrame that carries html
      buffers the full blob rows in per-task JVM row queues while batches
      round-trip to Python (measured: heap-OOM at 32 tasks × ~10 KB pages).
    So canonicalization here is ONE mapInPandas stage — Arrow batches stream
    through Python with bounded memory (maxRecordsPerBatch), html included,
    nothing queued JVM-side — followed by the dedup window whose sort runs
    reduce-side only, bounded by spark.sql.shuffle.partitions (sized by the
    caller for blob volume; AQE coalesces if over-partitioned). One shuffle
    of the corpus total; at 100 TB this step runs ONCE and lands in the
    warehouse (see bench.py's prepared-pages cache); crawl sessions read it
    prepared and never re-shuffle the corpus."""
    from collections.abc import Iterator

    import pandas as pd

    from ..functions.urlnorm import canonicalize_url

    def _canon_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            norm = pdf["url"].map(canonicalize_url, na_action="ignore")
            keep = norm.notna()
            yield pd.DataFrame(
                {"url_norm": norm[keep], "html": pdf["html"][keep]}
            )

    p = pages.select("url", "html").mapInPandas(
        _canon_stream, "url_norm string, html binary"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("url_norm").orderBy(F.xxhash64("html").asc())
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def prepare_pages_bucketed(
    spark: SparkSession,
    pages_prepared: DataFrame,
    table: str = "ofs_pages_bucketed",
    buckets: int = 64,
) -> DataFrame:
    """Persist the prepared corpus as a url_norm-BUCKETED, bucket-sorted
    warehouse table — the documented swap for when a round's schedule
    outgrows the broadcast threshold (crawl_round R6 note): with the
    corpus bucketed by the join key, the per-round fetch join needs NO
    exchange on the blob side at any schedule size; only the (narrow)
    schedule shuffles into the bucket layout (plan-asserted in
    tests/test_plans.py). One file per bucket (repartition by the bucket
    key first); the remaining corpus-side sort is bucket-LOCAL, and can
    be elided too via spark.sql.legacy.bucketedTableScan.outputOrdering
    (off by default since Spark 3.0).

    This runs ONCE per corpus, like prepare_pages itself; crawl sessions
    then pass ``spark.table(table)`` with ``fetch_mode="bucketed"``."""
    # a torn previous write can leave the managed location behind while
    # the table is unregistered; drop both so overwrite is idempotent
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    import shutil as _sh

    loc = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    _sh.rmtree(
        f"{loc.removeprefix('file:')}/{table}", ignore_errors=True
    )
    (
        pages_prepared.repartition(buckets, "url_norm")
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, "url_norm")
        .sortBy("url_norm")
        .saveAsTable(table)
    )
    return spark.table(table)


def _frontier_cols(df: DataFrame) -> DataFrame:
    """(url_norm, depth) rows → FRONTIER_COLS, the derived columns computed
    from the same SQL text the snapshot's read path applies."""
    return df.selectExpr(
        *(f"{DERIVED_COLUMNS.get(c, c)} AS {c}" for c in FRONTIER_COLS)
    )


def seeds_to_frontier(seeds: DataFrame) -> DataFrame:
    f = with_url_cols(seeds, "url").select("url_norm").dropDuplicates(["url_norm"])
    return _frontier_cols(f.withColumn("depth", F.lit(0)))


def _min_depth_frontier(cand: DataFrame) -> DataFrame:
    """Collapse candidate rows to one per url_norm keeping MIN depth.

    Shuffle-width design (VERDICT r4 #6 bytes-per-URL): host, url_hash,
    salt and priority are all pure JVM-codegen functions of
    (url_norm, depth) — regexp_extract, xxhash64, pmod, 1/(1+depth), as
    the SQL text of checkpoint.DERIVED_COLUMNS — so the exchange carries
    ONLY (url_norm, depth) (~70% of a frontier row's width is derived
    columns) and everything else is recomputed AFTER the aggregation,
    once per distinct URL instead of once per candidate occurrence. The
    link-candidate dedup is the widest per-round shuffle after this cut
    (millions of duplicate link occurrences collapse here); narrower rows
    also make the map-side partial min() combine denser per shuffle block.
    Storage follows the same rule: the frontier sink writes only
    (url_norm, depth), and SnapshotLog.read re-derives the rest from the
    same text, so a loaded frontier equals this one column for column."""
    return _frontier_cols(
        cand.select("url_norm", "depth")
        .groupBy("url_norm")
        .agg(F.min("depth").alias("depth"))
    )


def crawl_round(
    spark: SparkSession,
    frontier: DataFrame,
    seen: DataFrame,
    bloom: DataFrame | None,
    pages_prepared: DataFrame,
    robots: DataFrame,
    round_no: int,
    fetch_mode: str = "corpus",
) -> dict:
    """Run one round. Returns dict with result DataFrames; caller MUST
    materialize (write) them, then call ['cleanup']() to drop the round's
    persisted intermediates."""
    # R2 robots
    fr = with_robots(frontier, robots)
    disallowed = fr.filter(~F.col("allowed")).select("url_norm", "url_hash")
    allowed = fr.filter(F.col("allowed"))

    # R3-R4 politeness + global order
    budget = F.greatest(
        F.lit(1),
        F.least(
            F.lit(MAX_BUDGET),
            F.floor(F.lit(BUDGET_BASE) / F.col("crawl_delay")),
        ),
    ).cast("int")
    allowed = allowed.withColumn("budget", budget)
    scheduled = (
        schedule_budgeted(allowed)
        .drop("budget", "allowed", "crawl_delay")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sequenced, sequenced_unpersist = with_global_sequence(scheduled, round_no)
    schedule = sequenced.select(
        "round", "seq", "url_norm", "host", "priority", "depth"
    )

    # R6-R7: fetch join + ONE fused parse, persisted so every downstream
    # table reads the parsed result instead of re-running join+UDF.
    #
    # Join shape is load-bearing at corpus scale: `scheduled LEFT JOIN
    # pages` puts the small side on the left, where Spark cannot broadcast
    # it (left-outer builds right only) — the corpus side would be
    # sort-merge-joined, i.e. EVERY round re-shuffles and re-sorts the full
    # html-blob table. Instead: broadcast-SEMI-filter the corpus down to
    # the ~budget-sized hit set (blobs stream map-side, zero blob shuffle),
    # parse ONCE producing narrow rows, then left-join those narrow parse
    # results back to the schedule for miss/404 accounting. On a real
    # cluster where a round's schedule outgrows the broadcast threshold,
    # the swap is a warehouse bucketed by url_norm (co-located semi join,
    # still no per-round blob sort) — the round dataflow is unchanged.
    http_fetched = None
    if fetch_mode == "http":
        # Production fetch: mapInPandas HTTP with a per-partition
        # connection pool (sources/httpfetch.py). Same downstream shape —
        # html bytes are born executor-side and parsed in the next narrow
        # stage, never shuffled. Not bit-for-bit resumable (network).
        # Persisted because BOTH the parse path and the fetch_log read it
        # — without the cache the URLs would be fetched twice.
        from ..sources.httpfetch import fetch_http, fetched_as_pages

        http_fetched = fetch_http(scheduled).persist(StorageLevel.MEMORY_AND_DISK)
        page_hits = fetched_as_pages(http_fetched)
    elif fetch_mode == "bucketed":
        # Corpus is a url_norm-bucketed warehouse table
        # (prepare_pages_bucketed): the semi join co-locates on the
        # bucket layout — zero exchange AND zero sort on the blob side
        # regardless of schedule size (the MERGE hint keeps AQE from
        # "helpfully" broadcasting the schedule, which would hide the
        # shape this mode exists to prove). This is the swap for rounds
        # whose schedule outgrows the broadcast threshold.
        page_hits = pages_prepared.join(
            scheduled.select("url_norm").hint("merge"), "url_norm", "left_semi"
        )
    else:
        page_hits = pages_prepared.join(
            F.broadcast(scheduled.select("url_norm")), "url_norm", "left_semi"
        )
    parsed = page_hits.select(
        "url_norm",
        F.length("html").cast("long").alias("bytes"),
        extract_all_udf("html", "url_norm").alias("ex"),
    )
    enriched = (
        scheduled.select("url_norm", "host", "depth")
        .join(parsed, "url_norm", "left")
        .select(
            "url_norm",
            "host",
            "depth",
            F.col("bytes").isNotNull().alias("hit"),
            F.coalesce(F.col("bytes"), F.lit(0)).alias("bytes"),
            "ex",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    if http_fetched is not None:
        # real transport outcomes: the fetcher's status (500, 0 = transport
        # error, truncation-capped bytes, ...) goes to the log verbatim —
        # synthesizing 200/404 from the parse-hit bit would hide them
        fetch_log = (
            scheduled.select(
                F.lit(round_no).alias("round"), "url_norm", "host"
            )
            .join(
                http_fetched.select("url_norm", "status", "bytes"),
                "url_norm",
                "left",
            )
            .select(
                "round",
                "url_norm",
                "host",
                F.coalesce(F.col("status"), F.lit(0)).alias("status"),
                F.coalesce(F.col("bytes"), F.lit(0)).alias("bytes"),
            )
        )
    else:
        fetch_log = enriched.select(
            F.lit(round_no).alias("round"),
            "url_norm",
            "host",
            F.when(F.col("hit"), 200).otherwise(404).alias("status"),
            "bytes",
        )
    hits = enriched.filter(F.col("hit"))
    text = hits.select(
        F.col("url_norm").alias("url"), F.col("ex.text").alias("text")
    )
    entries = (
        hits.select(
            F.col("url_norm").alias("page_url"),
            F.posexplode("ex.entries").alias("pos", "e"),
        )
        .filter(F.col("pos") < MAX_ENTRIES_PER_PAGE)
        .select(
            "page_url",
            F.coalesce(F.col("e.entry_guid"), F.col("e.link")).alias("entry_guid"),
            F.trim(F.col("e.title")).alias("title"),
            F.col("e.link").alias("link"),
            F.col("e.published_ts").alias("published_ts"),
            F.trim(F.col("e.summary")).alias("summary"),
        )
        .dropDuplicates(["page_url", "entry_guid"])
    )

    # R5 seen delta (disjoint from all prior deltas by construction:
    # frontier rows are never in seen, scheduled ∩ disallowed = ∅).
    # Persisted: its consumers (seen_delta sink, bloom stage, frontier
    # anti-join) would otherwise each re-run the robots join over the
    # frontier to recompute `disallowed`.
    seen_delta = (
        scheduled.select("url_norm", "url_hash")
        .unionByName(disallowed)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    new_seen = seen.unionByName(seen_delta)

    # R8 candidates: ex.links are already canonical (the fused parse
    # canonicalizes), so only (url_norm, depth) feed the dedup shuffle and
    # _min_depth_frontier re-derives url_hash post-aggregation (once per
    # distinct URL). The bloom is built, merged and probed against them in
    # ONE co-partitioned Arrow stage, persisted and split into the bloom
    # sink and the probed candidates.
    cand = _min_depth_frontier(
        hits.select(
            F.explode("ex.links").alias("url_norm"),
            (F.col("depth") + 1).alias("depth"),
        )
    )
    seen_table = bloom_and_probe(seen_delta, bloom, cand).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    new_bloom, probed = split_seen_table(seen_table)
    # scheduled ∪ disallowed = seen_delta, so one anti-join removes both
    remainder = frontier.join(seen_delta.select("url_norm"), "url_norm", "left_anti")

    def build_frontier() -> DataFrame:
        """R9 frontier': the remainder, the definite-new candidates and the
        bloom-positive candidates that survive the exact anti-join, deduped
        by url_norm keeping MIN depth. Only composes the plan: once
        materialize() has run, the sink reads the cached seen table and
        seen delta and runs no Python."""
        definite_new = probed.filter(~F.col("maybe_seen"))
        maybe = probed.filter(F.col("maybe_seen"))
        return _min_depth_frontier(
            remainder.select("url_norm", "depth")
            .unionByName(definite_new.select("url_norm", "depth"))
            .unionByName(exact_new_urls(maybe, new_seen).select("url_norm", "depth"))
        )

    def cleanup() -> None:
        scheduled.unpersist()
        sequenced_unpersist()
        enriched.unpersist()
        seen_delta.unpersist()
        seen_table.unpersist()
        if http_fetched is not None:
            http_fetched.unpersist()

    def materialize() -> None:
        """Fill the round's shared caches with ONE pass each. Must run
        before the per-table sinks are submitted concurrently: Spark's
        block manager does not deduplicate in-flight computation of the
        same partition across jobs, so N racing sinks would each re-run
        the corpus scan + fused parse (measured: the writes phase collapses
        from sum-of-jobs to max-of-jobs once the cache is pre-built)."""
        enriched.count()  # persists scheduled's blocks as a side effect
        # the bloom stage reads seen_delta and the parsed links, so this
        # one count also fills seen_delta's cache
        seen_table.count()

    return {
        "materialize": materialize,
        "build_frontier": build_frontier,
        "seen_delta": seen_delta,
        "bloom": new_bloom,
        "schedule": schedule,
        "fetch_log": fetch_log,
        "text": text,
        "entries": entries,
        "cleanup": cleanup,
    }


ROUND_TABLES = ("frontier", "seen_delta", "bloom", "schedule", "fetch_log", "text", "entries")


def load_seen(spark: SparkSession, log: SnapshotLog, round_no: int) -> DataFrame:
    """Cumulative seen set as of round_no = newest compacted base (≤
    round_no, if any — SnapshotLog.compact_seen) plus the per-round delta
    files after it (metadata-only: one multi-path Parquet read with the
    manifests' schema and read columns, no Spark job; SnapshotLog.read_all).
    Row multiset is identical with or without a base (deltas are disjoint),
    so every consumer — anti-joins, bloom probes, resume — is unaffected by
    when compaction runs."""
    base = log.latest_seen_base(round_no)
    start = base["upto"] + 1 if base else 0
    deltas = [
        log.read_snapshot(r)["tables"]["seen_delta"]
        for r in range(start, round_no + 1)
    ]
    return log.read_all(spark, ([base] if base else []) + deltas)


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    warehouse: str,
    rounds: int,
    pages_prepared: bool = False,
    compact_seen_every: int | None = None,
    fetch_mode: str = "corpus",
    vacuum_keep: int | None = None,
) -> SnapshotLog:
    """Run (or resume) the crawl for `rounds` total rounds, one snapshot per
    round. Resume (A17): pass the same warehouse — the loop continues after
    the latest committed snapshot and reproduces exactly what an
    uninterrupted run would have (tests/test_resume.py).

    pages_prepared=True means `pages` is already the prepare_pages() output
    (url_norm, html) — the production shape, where corpus ingestion ran once
    in a separate job and crawl sessions never re-normalize the corpus.

    compact_seen_every=k folds the seen deltas into a base every k rounds
    (SnapshotLog.compact_seen) so long crawls keep a bounded read
    file-set; compaction is bit-transparent to every consumer, so any k
    (or none) yields identical crawl output.

    fetch_mode selects the R6 stage: "corpus" broadcast-semi (default),
    "bucketed" (pass prepare_pages_bucketed's table as `pages` with
    pages_prepared=True), or "http" (real network fetch).

    vacuum_keep=n prunes superseded engine-state tables down to the newest
    n snapshots after every commit (SnapshotLog.vacuum_engine_state) —
    lifecycle hygiene inside the loop, resume-transparent."""
    from concurrent.futures import ThreadPoolExecutor

    log = SnapshotLog(warehouse)
    # A prepared corpus arriving from Parquet is NOT persisted on-heap:
    # the per-round fetch join streams it from Parquet (OS page cache makes
    # re-reads near-free), while on-heap caching of a multi-GB html column
    # is GC-hostile. Un-prepared input pays the canonicalize+dedup once and
    # caches the (usually test-sized) result.
    prepared = (
        pages
        if pages_prepared
        else prepare_pages(pages).persist(StorageLevel.MEMORY_AND_DISK)
    )
    last = log.latest_snapshot_id()
    first = (last + 1) if last is not None else 0
    seed_frontier: DataFrame | None = None
    cumulative_seen = 0 if first == 0 else sum(
        log.read_snapshot(r)["metrics"]["seen_delta_rows"] for r in range(first)
    )
    import time as _time

    for round_no in range(first, rounds):
        if round_no == 0:
            # round 0's frontier feeds the schedule, the seen delta's
            # disallowed rows and the frontier sink's remainder: persisted
            # so the seeds are canonicalized once (filled by the round's
            # materialize, released once round 0 is committed)
            frontier = seed_frontier = seeds_to_frontier(seeds).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            seen = spark.createDataFrame([], "url_norm string, url_hash long")
            bloom: DataFrame | None = None
        else:
            # Every later round reads from the committed snapshot (the
            # materialization barrier that makes every round a pure
            # function of the previous snapshot — no recomputation drift,
            # no lineage blowup); after the last round nothing is loaded.
            frontier = log.load_table(spark, round_no - 1, "frontier")
            seen = load_seen(spark, log, round_no - 1)
            bloom = log.load_table(spark, round_no - 1, "bloom")
        _t0 = _round_start = _time.monotonic()
        out = crawl_round(
            spark, frontier, seen, bloom, prepared, robots, round_no,
            fetch_mode=fetch_mode,
        )
        # Materialize the shared caches first (one corpus scan + one parse +
        # one bloom stage — Spark's block manager does not dedupe in-flight
        # computation across jobs), THEN write ALL 7 round tables as
        # CONCURRENT Spark jobs so per-round wall time is max(write), not
        # sum(write): every sink, including the frontier, only consumes
        # cached narrow rows and runs no Python.
        out["materialize"]()
        timings: dict[str, float] = {}
        timings["materialize_sec"] = round(_time.monotonic() - _t0, 3)
        _t0 = _time.monotonic()
        frontier_df = out["build_frontier"]()
        with ThreadPoolExecutor(max_workers=len(ROUND_TABLES)) as pool:
            futs = {
                name: pool.submit(
                    log.write_table,
                    frontier_df if name == "frontier" else out[name],
                    round_no,
                    name,
                )
                for name in ROUND_TABLES
            }
            manifests = {name: f.result() for name, f in futs.items()}
        timings["writes_sec"] = round(_time.monotonic() - _t0, 3)
        _t0 = _time.monotonic()
        out["cleanup"]()
        timings["cleanup_sec"] = round(_time.monotonic() - _t0, 3)
        # A18 per-round metrics from Parquet footers (no Spark jobs).
        m: dict[str, float] = {
            f"{name}_rows": manifests[name]["rows"] for name in ROUND_TABLES
        }
        cumulative_seen += manifests["seen_delta"]["rows"]
        m["seen_rows"] = cumulative_seen
        m["fetched_ok"] = log.count_where(
            manifests["fetch_log"]["path"], "status", 200
        )
        timings["round_sec"] = round(_time.monotonic() - _round_start, 3)
        logger.debug("crawl round %d timings %s", round_no, timings)
        log.commit(round_no, manifests, m, timings=timings)
        if (
            compact_seen_every
            and round_no > 0
            and (round_no + 1) % compact_seen_every == 0
        ):
            log.compact_seen(spark, round_no)
        if vacuum_keep is not None:
            # lifecycle-in-the-loop (long-crawl hygiene): superseded
            # frontier/bloom/schedule data is pruned as the crawl runs, so
            # warehouse size and per-round cost stay flat over thousands of
            # rounds. Resume-transparent: only the latest snapshot's engine
            # state is ever read back (tests/test_resume.py).
            log.vacuum_engine_state(keep_last=vacuum_keep)
        if seed_frontier is not None:
            seed_frontier.unpersist()
            seed_frontier = None
        if m["frontier_rows"] == 0:
            break
    if not pages_prepared:
        prepared.unpersist()
    return log
