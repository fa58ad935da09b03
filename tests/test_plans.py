"""Physical-plan assertions — the 100 TB hygiene checks (SURVEY.md §4):
the crawl's seen filter and fetch join plan as anti/semi joins, the
frontier dedup aggregates map-side, the fetch join streams the corpus and
never scans html for metadata-only outputs, the dedup sort runs
reduce-side, the frontier sinks run no Python, and the bloom's build, merge
and probe run as one Python stage with no broadcast."""

from __future__ import annotations

from pyspark.sql import functions as F

from opps_feedcrawler_spark.plans.queries import QUERIES

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_semi_anti_join_operators(spark):
    """The crawl's exact seen filter (operators/seen.exact_new_urls) plans
    as a left-anti join; the fetch semi-join's LeftSemi is asserted by the
    fetch-join tests below."""
    assert "LeftAnti" in _plan(QUERIES["crawl_frontier_antijoin"](spark, SF_DIR))


def test_partial_aggregation_map_side(spark):
    """The frontier's link-candidate dedup (crawl._min_depth_frontier) must
    shuffle pre-aggregated MIN(depth) partials, not raw candidate rows —
    at 100 TB this is the difference between shuffling GBs and TBs."""
    from opps_feedcrawler_spark.plans.crawl import _min_depth_frontier

    cand = spark.createDataFrame(
        [("http://a.example/x", 2), ("http://a.example/x", 1), ("http://b.example/", 0)],
        "url_norm string, depth int",
    )
    plan = _plan(_min_depth_frontier(cand))
    assert "partial_min" in plan
    # exactly one exchange (partial → final), nothing extra
    assert plan.count("+- Exchange") == 1


def test_prepare_pages_dedups_by_content_hash(spark):
    """Duplicate url_norms (canonical + messy aliases) collapse to ONE row,
    keeping the min-xxhash64 html — deterministic regardless of input order."""
    from opps_feedcrawler_spark.plans.crawl import prepare_pages

    rows = [
        ("http://A.example:80/p/1#frag", b"<p>alias-one</p>"),
        ("http://a.example/p/1", b"<p>canonical</p>"),
        ("http://a.example/p/2", b"<p>other</p>"),
        ("notaurl", b"<p>dropped</p>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = {r.url_norm: bytes(r.html) for r in prepare_pages(pages).collect()}
    assert set(got) == {"http://a.example/p/1", "http://a.example/p/2"}
    # reversed input order → identical winner (content-hash, not first-wins)
    rev = spark.createDataFrame(list(reversed(rows)), "url string, html binary")
    got_rev = {r.url_norm: bytes(r.html) for r in prepare_pages(rev).collect()}
    assert got == got_rev


def test_prepare_pages_no_mapside_blob_sort(spark):
    """The dedup sort must sit ABOVE the exchange (reduce-side, bounded by
    shuffle partitions) — never below it next to the scan, where it would
    sort every input partition's full blob rows map-side."""
    from opps_feedcrawler_spark.plans.crawl import prepare_pages

    pages = spark.createDataFrame(
        [("http://a.example/p/1", b"x")], "url string, html binary"
    )
    prev = spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold")
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "0")
    try:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            prepare_pages(pages).explain()  # simple tree, printed top-down
        tree = buf.getvalue().splitlines()
    finally:
        spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", prev)
    sort_lines = [i for i, l in enumerate(tree) if "- Sort " in l]
    exch_lines = [i for i, l in enumerate(tree) if "- Exchange " in l]
    assert len(sort_lines) == 1 and len(exch_lines) == 1
    # tree prints top-down: everything printed AFTER the exchange runs
    # map-side; the single sort must sit above (before) it
    assert sort_lines[0] < exch_lines[0]


def test_fetch_join_streams_corpus_no_blob_sort(spark):
    """The per-round fetch must broadcast-SEMI-filter the corpus (blobs
    stream map-side) — never sort-merge-join it (which would re-sort the
    whole blob table every round)."""
    from opps_feedcrawler_spark.plans.crawl import (
        crawl_round,
        prepare_pages,
        seeds_to_frontier,
    )
    from opps_feedcrawler_spark.sources.synth import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR)
    pp = prepare_pages(pages)
    seeds = pages.select("url").orderBy("url").limit(50)
    robots = spark.createDataFrame(
        [],
        schema="host string, crawl_delay double, "
        "rules array<struct<allow:boolean,prefix:string>>",
    )
    out = crawl_round(
        spark, seeds_to_frontier(seeds),
        spark.createDataFrame([], "url_norm string, url_hash long"),
        None, pp, robots, 0,
    )
    plan = _plan(out["fetch_log"])
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    out["cleanup"]()


def test_fetch_join_prunes_html_for_metadata_outputs(spark):
    """fetch_log derives from the persisted enriched round table; the
    schedule table itself must never read pages.html."""
    from opps_feedcrawler_spark.plans.crawl import (
        crawl_round,
        prepare_pages,
        seeds_to_frontier,
    )
    from opps_feedcrawler_spark.sources.synth import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR)
    pp = prepare_pages(pages)
    seeds = pages.select("url").orderBy("url").limit(50)
    robots = spark.createDataFrame(
        [],
        schema="host string, crawl_delay double, "
        "rules array<struct<allow:boolean,prefix:string>>",
    )
    frontier = seeds_to_frontier(seeds)
    seen = spark.createDataFrame([], "url_norm string, url_hash long")
    out = crawl_round(spark, frontier, seen, None, pp, robots, 0)
    sched_plan = _plan(out["schedule"])
    assert "html" not in sched_plan  # politeness/ordering never touches html
    out["cleanup"]()


_PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)


def _python_nodes(df) -> list[str]:
    """Python-evaluating nodes of df's pre-AQE physical plan. children()
    does not enter cached relations (InMemoryTableScan is a leaf), so only
    the work the DataFrame's own jobs would run is counted."""
    out, stack = [], [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() in _PYTHON_NODES:
            out.append(node.nodeName())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def test_frontier_sink_runs_no_python(spark):
    """Every Python stage of a round runs once, before the sinks: the
    parse emits canonical links and materialize fills the bloom stage's
    cache, so the frontier sink itself evaluates no Python.
    run_crawl persists the round-0 seed frontier; the test does the same."""
    from pyspark.storagelevel import StorageLevel

    from opps_feedcrawler_spark.plans.crawl import (
        crawl_round,
        prepare_pages,
        seeds_to_frontier,
    )
    from opps_feedcrawler_spark.sources.synth import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR)
    pp = prepare_pages(pages)
    seeds = pages.select("url").orderBy("url").limit(50)
    robots = spark.createDataFrame(
        [],
        schema="host string, crawl_delay double, "
        "rules array<struct<allow:boolean,prefix:string>>",
    )
    frontier = seeds_to_frontier(seeds).persist(StorageLevel.MEMORY_AND_DISK)
    seen = spark.createDataFrame([], "url_norm string, url_hash long")
    out = crawl_round(spark, frontier, seen, None, pp, robots, 0)
    out["materialize"]()
    frontier_df = out["build_frontier"]()
    assert _python_nodes(frontier_df) == []
    assert frontier_df.count() > 0
    out["cleanup"]()
    frontier.unpersist()


def test_run_crawl_frontier_sinks_run_no_python(spark, tmp_path, monkeypatch):
    """Same property through run_crawl itself: round 0's seed frontier
    feeds the frontier sink's remainder, so unless run_crawl caches it the
    sink re-runs the seeds' canonicalize_udf. The cache is released once
    round 0 is committed."""
    import opps_feedcrawler_spark.plans.crawl as crawl
    from opps_feedcrawler_spark.sources.synth import gen_corpus

    real_round = crawl.crawl_round
    frontiers, sink_python = [], []

    def spy_round(spark, frontier, *args, **kwargs):
        frontiers.append(frontier)
        out = real_round(spark, frontier, *args, **kwargs)
        build = out["build_frontier"]

        def spy_build():
            df = build()
            sink_python.append(_python_nodes(df))
            return df

        out["build_frontier"] = spy_build
        return out

    monkeypatch.setattr(crawl, "crawl_round", spy_round)
    pages, seeds, robots_rows = gen_corpus(
        n_hosts=6, n_pages=80, n_seeds=20, seed=3
    )
    robots = spark.createDataFrame(
        robots_rows,
        schema="host string, crawl_delay double, "
        "rules array<struct<allow:boolean,prefix:string>>",
    )
    crawl.run_crawl(
        spark,
        spark.createDataFrame(pages),
        spark.createDataFrame(seeds),
        robots,
        str(tmp_path / "wh"),
        rounds=2,
    )
    assert sink_python == [[], []]
    assert not frontiers[0].is_cached


def test_seen_filter_is_one_python_stage_without_broadcast(
    spark, corpus_dfs, tmp_path, monkeypatch
):
    """The bloom's build, merge and probe run as ONE Python stage per
    round: the table crawl_round persists for them plans exactly one
    FlatMapCoGroupsInPandas, on round 0 (no base bloom) and on round 1
    (base bloom read back from the snapshot). Nothing of the filter is
    collected to the driver or broadcast: the two rounds run with
    bloom_to_broadcast raising."""
    import opps_feedcrawler_spark.operators.seen as seen
    import opps_feedcrawler_spark.plans.crawl as crawl

    def no_broadcast(*args, **kwargs):
        raise AssertionError("the crawl round broadcast the bloom")

    monkeypatch.setattr(seen, "bloom_to_broadcast", no_broadcast)
    real_stage = crawl.bloom_and_probe
    stage_python = []

    def spy_stage(*args, **kwargs):
        df = real_stage(*args, **kwargs)
        stage_python.append(_python_nodes(df))
        return df

    monkeypatch.setattr(crawl, "bloom_and_probe", spy_stage)
    pages, seeds, robots = corpus_dfs
    log = crawl.run_crawl(spark, pages, seeds, robots, str(tmp_path / "wh"), rounds=2)
    assert log.snapshot_ids() == [0, 1]
    assert stage_python == [["FlatMapCoGroupsInPandas"]] * 2


def test_global_sequence_no_single_task_data_sort(spark):
    """with_global_sequence must range-partition the schedule (parallel
    sort) — never funnel the round's rows through one task. The only
    SinglePartition window allowed is the tiny per-partition-counts offset
    scan (input bounded by the partition count)."""
    from opps_feedcrawler_spark.operators.politeness import with_global_sequence

    rows = [
        (f"http://h{i % 7}.example/p/{i}", f"h{i % 7}.example", 1.0 / (1 + i % 3), i % 3)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "url_norm string, host string, priority double, depth int"
    )
    out, unpersist = with_global_sequence(df, 0)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the schedule rows flow through a RangePartitioning repartition...
    assert "REPARTITION_BY_NUM" in plan or "RepartitionByExpression" in plan
    # ...and the only global (unpartitioned) window is over the counts agg
    import re

    assert "sum(_n#" in plan  # the offsets prefix-sum window exists
    # no row_number window over the full schedule without partition keys:
    assert not re.search(r"Window \[row_number\(\)[^\n]*\]\s*$", plan, re.M)
    unpersist()


def test_bucketed_fetch_join_no_blob_exchange(spark, tmp_path):
    """fetch_mode='bucketed': with the corpus persisted as a
    url_norm-bucketed table, the per-round fetch semi-join must have NO
    Exchange on the blob side (only the narrow schedule shuffles into the
    bucket layout; the remaining corpus-side sort is bucket-local) — the
    documented swap for schedules too large to broadcast. Results must
    equal the broadcast path."""
    from opps_feedcrawler_spark.plans.crawl import (
        crawl_round,
        prepare_pages,
        prepare_pages_bucketed,
        seeds_to_frontier,
    )
    from opps_feedcrawler_spark.sources.synth import gen_corpus

    pages, seeds, robots_rows = gen_corpus(
        n_hosts=8, n_pages=120, n_seeds=30, seed=5
    )
    P = prepare_pages(spark.createDataFrame(pages))
    bucketed = prepare_pages_bucketed(
        spark, P, table="ofs_pages_bucketed_test", buckets=8
    )
    S = spark.createDataFrame(seeds)
    R = spark.createDataFrame(
        robots_rows,
        schema="host string, crawl_delay double, "
        "rules array<struct<allow:boolean,prefix:string>>",
    )
    frontier = seeds_to_frontier(S)
    seen = spark.createDataFrame([], "url_norm string, url_hash long")

    # plan-shape assertion on the fetch semi-join itself (the exact
    # expression crawl_round builds in bucketed mode), executed so AQE
    # finalizes: sort-merge, ONE exchange (schedule side only), ONE sort
    join = bucketed.join(
        frontier.select("url_norm").hint("merge"), "url_norm", "left_semi"
    )
    join.count()
    plan = join._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "LeftSemi" in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning(url_norm") == 1, plan[:3000]
    assert "Bucketed: true" in plan, plan[:3000]
    # the corpus-side Sort is bucket-LOCAL (no exchange feeds it); eliding
    # it needs spark.sql.legacy.bucketedTableScan.outputOrdering=true
    # (off by default since Spark 3.0) — the scale-critical property is
    # that the blob rows never cross the network, asserted above

    # end-to-end equality vs the broadcast path
    out_b = crawl_round(
        spark, frontier, seen, None, bucketed, R, 0, fetch_mode="bucketed"
    )
    out_c = crawl_round(spark, frontier, seen, None, P, R, 0)
    got_b = sorted(
        (r.url_norm, r.status, r.bytes) for r in out_b["fetch_log"].collect()
    )
    got_c = sorted(
        (r.url_norm, r.status, r.bytes) for r in out_c["fetch_log"].collect()
    )
    assert got_b == got_c
    out_b["cleanup"](), out_c["cleanup"]()
    spark.sql("DROP TABLE IF EXISTS ofs_pages_bucketed_test")


def test_importing_queries_writes_no_file(tmp_path):
    """Importing the registry, as __spark_entry__.queries() does, leaves
    the temp dir untouched: no entry materializes data at import."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    tmp = tmp_path / "tmpdir"
    tmp.mkdir()
    subprocess.run(
        [sys.executable, "-c", "import opps_feedcrawler_spark.plans.queries"],
        cwd=Path(__file__).resolve().parents[1],
        env={**os.environ, "TMPDIR": str(tmp)},
        check=True,
        timeout=300,
    )
    assert os.listdir(tmp) == []


def test_oracle_sql_writes_every_fixture_it_reads(tmp_path):
    """__spark_entry__.oracle_sql() writes every parquet fixture its SQL
    reads, since the driver may run an oracle before its query callable."""
    import json
    import os
    import re
    import subprocess
    import sys
    from pathlib import Path

    tmp = tmp_path / "tmpdir"
    tmp.mkdir()
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import json, __spark_entry__ as E; print(json.dumps(E.oracle_sql()))",
        ],
        cwd=Path(__file__).resolve().parents[1],
        env={**os.environ, "TMPDIR": str(tmp)},
        check=True,
        timeout=300,
        capture_output=True,
        text=True,
    ).stdout
    sql = json.loads(out.splitlines()[-1])
    paths = {
        p
        for text in sql.values()
        for p in re.findall(r"read_parquet\('([^']+)'\)", text)
        if p.startswith(str(tmp))
    }
    assert paths
    assert sorted(p for p in paths if not os.path.exists(p)) == []


def test_headline_queries_are_registered():
    """Every bench.py HEADLINE_QUERIES name is a registry entry, so the
    query pack cannot hit a KeyError after an entry is deleted. The list
    is read with ast: importing bench.py would set its politeness-budget
    env defaults for the whole test process."""
    import ast
    from pathlib import Path

    src = (Path(__file__).resolve().parents[1] / "bench.py").read_text()
    (names,) = [
        ast.literal_eval(node.value)
        for node in ast.parse(src).body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "HEADLINE_QUERIES" for t in node.targets)
    ]
    assert names
    assert [n for n in names if n not in QUERIES] == []
