"""Kill/resume bit-for-bit equivalence (BASELINE.json:6; SURVEY.md §5.4):
run A = rounds 0..3 uninterrupted; run B = rounds 0..1, 'crash', resume to
3 in a fresh process-state — every committed table must be value-identical,
and a torn (uncommitted) round must be invisible to resume."""

from __future__ import annotations

import json
import os
import uuid

import pytest

from opps_feedcrawler_spark.plans.checkpoint import SnapshotLog
from opps_feedcrawler_spark.plans.crawl import ROUND_TABLES, load_seen, run_crawl

ROUNDS = 3


def _table_fingerprint(spark, log, round_no: int, name: str):
    df = log.load_table(spark, round_no, name)
    rows = [tuple(r) for r in df.collect()]
    return sorted(map(repr, rows))


def test_resume_bit_for_bit(spark, corpus_dfs, tmp_path):
    pages, seeds, robots = corpus_dfs
    wh_a = str(tmp_path / "a")
    wh_b = str(tmp_path / "b")
    log_a = run_crawl(spark, pages, seeds, robots, wh_a, rounds=ROUNDS)
    # interrupted run: stop after round 0, then resume
    log_b = run_crawl(spark, pages, seeds, robots, wh_b, rounds=1)
    assert log_b.latest_snapshot_id() == 0
    log_b = run_crawl(spark, pages, seeds, robots, wh_b, rounds=ROUNDS)

    from opps_feedcrawler_spark.plans.crawl import ROUND_TABLES

    assert log_a.snapshot_ids() == log_b.snapshot_ids()
    for r in log_a.snapshot_ids():
        for name in ROUND_TABLES:
            fa = _table_fingerprint(spark, log_a, r, name)
            fb = _table_fingerprint(spark, log_b, r, name)
            assert fa == fb, (r, name)
        ma = log_a.read_snapshot(r)["metrics"]
        mb = log_b.read_snapshot(r)["metrics"]
        assert ma == mb, r


def test_torn_snapshot_invisible(spark, corpus_dfs, tmp_path):
    pages, seeds, robots = corpus_dfs
    wh = str(tmp_path / "torn")
    log = run_crawl(spark, pages, seeds, robots, wh, rounds=2)
    # simulate a crash mid-commit: data for round 2 present, snapshot absent
    torn_dir = os.path.join(log.data_dir, "round=2", "junk")
    os.makedirs(torn_dir, exist_ok=True)
    with open(os.path.join(torn_dir, "part-0.parquet"), "wb") as f:
        f.write(b"torn")
    # a temp snapshot file must also be ignored
    with open(os.path.join(log.snap_dir, ".tmp-dead.json"), "w") as f:
        json.dump({"snapshot_id": 99}, f)
    assert log.latest_snapshot_id() == 1  # torn round invisible
    log2 = run_crawl(spark, pages, seeds, robots, wh, rounds=3)
    assert log2.latest_snapshot_id() == 2  # resumed cleanly over the wreckage


def test_seen_compaction_is_transparent(spark, corpus_dfs, tmp_path):
    """compact_seen folds deltas 0..k into a base; a crawl that resumes
    AFTER compaction must produce tables value-identical to an
    uncompacted run, load_seen must return the identical row set, and the
    read path must stop touching the compacted deltas' file list."""
    from opps_feedcrawler_spark.plans.crawl import load_seen

    pages, seeds, robots = corpus_dfs
    wh_a = str(tmp_path / "a")
    wh_b = str(tmp_path / "b")
    log_a = run_crawl(spark, pages, seeds, robots, wh_a, rounds=ROUNDS)

    log_b = run_crawl(spark, pages, seeds, robots, wh_b, rounds=2)
    base = log_b.compact_seen(spark, upto_round=1)
    assert base["upto"] == 1
    # compacted base == union of deltas 0..1, exactly (read through the
    # marker's and the manifest's read columns: url_hash is not stored)
    base_rows = sorted(
        map(repr, ((r.url_norm, r.url_hash) for r in
                   SnapshotLog.read(spark, base).collect()))
    )
    delta = log_b.read_snapshot(0)["tables"]["seen_delta"]
    delta_rows = sorted(
        map(repr, ((r.url_norm, r.url_hash) for r in
                   SnapshotLog.read(
                       spark,
                       delta,
                       delta["path"],
                       log_b.read_snapshot(1)["tables"]["seen_delta"]["path"],
                   ).collect()))
    )
    assert base_rows == delta_rows

    log_b = run_crawl(spark, pages, seeds, robots, wh_b, rounds=ROUNDS)
    from opps_feedcrawler_spark.plans.crawl import ROUND_TABLES

    for r in log_a.snapshot_ids():
        for name in ROUND_TABLES:
            assert _table_fingerprint(spark, log_a, r, name) == \
                _table_fingerprint(spark, log_b, r, name), (r, name)

    # the post-compaction read path uses base + later deltas only
    seen_b = load_seen(spark, log_b, ROUNDS - 1)
    seen_a = load_seen(spark, log_a, ROUNDS - 1)
    sa = sorted(map(repr, ((r.url_norm, r.url_hash) for r in seen_a.collect())))
    sb = sorted(map(repr, ((r.url_norm, r.url_hash) for r in seen_b.collect())))
    assert sa == sb
    files = seen_b.inputFiles()
    assert any("seen_base=1" in f for f in files)
    assert not any("round=0/seen_delta" in f or "round=1/seen_delta" in f for f in files)


def test_vacuum_engine_state_resume_transparent(spark, corpus_dfs, tmp_path):
    """vacuum_engine_state deletes superseded frontier/bloom/schedule data
    for old rounds; product tables survive, resume continues from the
    latest (untouched) snapshot, and time travel to vacuumed state fails
    loudly."""
    import pytest

    pages, seeds, robots = corpus_dfs
    wh_a = str(tmp_path / "a")
    wh_b = str(tmp_path / "b")
    log_a = run_crawl(spark, pages, seeds, robots, wh_a, rounds=ROUNDS)

    log_b = run_crawl(spark, pages, seeds, robots, wh_b, rounds=2)
    assert log_b.vacuum_engine_state(keep_last=1) == [0]
    # product tables for round 0 still readable and identical
    for name in ("text", "entries", "fetch_log"):
        assert _table_fingerprint(spark, log_b, 0, name) == \
            _table_fingerprint(spark, log_a, 0, name), name
    # vacuumed engine state fails loudly
    with pytest.raises(KeyError):
        log_b.load_table(spark, 0, "frontier")
    # resume continues bit-for-bit from the latest snapshot
    log_b = run_crawl(spark, pages, seeds, robots, wh_b, rounds=ROUNDS)
    from opps_feedcrawler_spark.plans.crawl import ROUND_TABLES

    for name in ROUND_TABLES:
        assert _table_fingerprint(spark, log_a, ROUNDS - 1, name) == \
            _table_fingerprint(spark, log_b, ROUNDS - 1, name), name


def test_vacuum_crash_between_rewrite_and_delete(
    spark, corpus_dfs, tmp_path, monkeypatch
):
    """A crash inside vacuum_engine_state, right after it deletes a pruned
    table's data, must leave no committed snapshot pointing at a missing
    path, and a resume must still reproduce the uninterrupted run."""
    import shutil

    import pytest

    from opps_feedcrawler_spark.plans.crawl import ROUND_TABLES

    pages, seeds, robots = corpus_dfs
    wh_a = str(tmp_path / "a")
    wh_b = str(tmp_path / "b")
    log_a = run_crawl(spark, pages, seeds, robots, wh_a, rounds=ROUNDS)
    log_b = run_crawl(spark, pages, seeds, robots, wh_b, rounds=2)

    real_rmtree = shutil.rmtree

    def rmtree_then_crash(path, *args, **kwargs):
        real_rmtree(path, *args, **kwargs)
        raise RuntimeError("crash after deleting " + path)

    monkeypatch.setattr(shutil, "rmtree", rmtree_then_crash)
    with pytest.raises(RuntimeError, match="crash after deleting"):
        log_b.vacuum_engine_state(keep_last=1)
    monkeypatch.undo()

    for sid in log_b.snapshot_ids():
        for name, table in log_b.read_snapshot(sid)["tables"].items():
            assert os.path.exists(table["path"]), (sid, name, table["path"])

    log_b = run_crawl(spark, pages, seeds, robots, wh_b, rounds=ROUNDS)
    assert log_a.snapshot_ids() == log_b.snapshot_ids()
    for r in log_a.snapshot_ids():
        assert log_a.read_snapshot(r)["metrics"] == \
            log_b.read_snapshot(r)["metrics"], r
        for name in ("text", "entries", "fetch_log", "seen_delta"):
            assert _table_fingerprint(spark, log_a, r, name) == \
                _table_fingerprint(spark, log_b, r, name), (r, name)
    for name in ROUND_TABLES:
        assert _table_fingerprint(spark, log_a, ROUNDS - 1, name) == \
            _table_fingerprint(spark, log_b, ROUNDS - 1, name), name


def test_compact_every_in_engine_loop(spark, corpus_dfs, tmp_path):
    """run_crawl(compact_seen_every=2) must produce identical output to an
    uncompacted run and leave a committed base behind."""
    pages, seeds, robots = corpus_dfs
    wh_a = str(tmp_path / "a")
    wh_b = str(tmp_path / "b")
    log_a = run_crawl(spark, pages, seeds, robots, wh_a, rounds=ROUNDS)
    log_b = run_crawl(
        spark, pages, seeds, robots, wh_b, rounds=ROUNDS, compact_seen_every=2
    )
    assert log_b.latest_seen_base(ROUNDS - 1) is not None
    from opps_feedcrawler_spark.plans.crawl import ROUND_TABLES

    for r in log_a.snapshot_ids():
        for name in ROUND_TABLES:
            assert _table_fingerprint(spark, log_a, r, name) == \
                _table_fingerprint(spark, log_b, r, name), (r, name)


def test_vacuum_keep_in_engine_loop(spark, corpus_dfs, tmp_path):
    """run_crawl(vacuum_keep=1) prunes superseded engine state after every
    committed round INSIDE the loop, and is fully output-transparent:
    product tables + final frontier/seen identical to a lifecycle-off run,
    only the latest round's engine state remains on disk."""
    from opps_feedcrawler_spark.plans.crawl import ROUND_TABLES

    pages, seeds, robots = corpus_dfs
    wh_a = str(tmp_path / "a")
    wh_v = str(tmp_path / "v")
    log_a = run_crawl(spark, pages, seeds, robots, wh_a, rounds=ROUNDS)
    log_v = run_crawl(
        spark, pages, seeds, robots, wh_v, rounds=ROUNDS,
        compact_seen_every=2, vacuum_keep=1,
    )
    last = ROUNDS - 1
    # product tables identical for EVERY round (never vacuumed)
    for r in range(ROUNDS):
        for name in ("text", "entries", "fetch_log", "seen_delta"):
            assert _table_fingerprint(spark, log_a, r, name) == \
                _table_fingerprint(spark, log_v, r, name), (r, name)
    # latest engine state identical (what a resume would read)
    for name in ROUND_TABLES:
        assert _table_fingerprint(spark, log_a, last, name) == \
            _table_fingerprint(spark, log_v, last, name), name
    # older engine state actually pruned
    import pytest

    with pytest.raises(KeyError):
        log_v.load_table(spark, 0, "frontier")
    assert log_v.read_snapshot(0)["expired_tables"]
    # and a further resume continues cleanly on the vacuumed warehouse
    log_v2 = run_crawl(
        spark, pages, seeds, robots, wh_v, rounds=ROUNDS + 1, vacuum_keep=1
    )
    assert log_v2.latest_snapshot_id() == ROUNDS


# -- snapshot-layer cost: loads without jobs, one-job compaction -------------


@pytest.fixture(scope="module")
def plain_log(spark, corpus_dfs, tmp_path_factory):
    """An uncompacted, unvacuumed ROUNDS-round crawl to compare against."""
    wh = str(tmp_path_factory.mktemp("plain"))
    return run_crawl(spark, *corpus_dfs, wh, rounds=ROUNDS)


@pytest.fixture(scope="module")
def compacted_log(spark, corpus_dfs, tmp_path_factory):
    """A ROUNDS-round crawl with a seen base at upto=1."""
    wh = str(tmp_path_factory.mktemp("compacted"))
    return run_crawl(spark, *corpus_dfs, wh, rounds=ROUNDS, compact_seen_every=2)


def _jobs_of(spark, fn) -> list[int]:
    """Ids of the Spark jobs that `fn()` submits from this thread."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _seen_rows(df):
    return sorted(map(repr, ((r.url_norm, r.url_hash) for r in df.collect())))


def test_state_loads_submit_no_job(spark, compacted_log):
    """Loading a table or the seen set reads the schema from the manifest,
    so building the DataFrame submits no Spark job (no footer inference)."""
    log = compacted_log
    last = ROUNDS - 1
    assert log.latest_seen_base(last)["upto"] == 1
    assert log.latest_seen_base(0) is None

    def loads():
        for name in ROUND_TABLES:
            log.load_table(spark, last, name)
        load_seen(spark, log, last)  # base + the delta after it
        load_seen(spark, log, 0)  # deltas only

    assert _jobs_of(spark, loads) == []


def test_compact_seen_is_one_job(spark, corpus_dfs, tmp_path):
    """compact_seen writes the deltas as read: one job, no shuffle."""
    log = run_crawl(spark, *corpus_dfs, str(tmp_path / "wh"), rounds=2)
    jobs = _jobs_of(spark, lambda: log.compact_seen(spark, 1))
    assert len(jobs) == 1, jobs
    assert log.latest_seen_base(1)["upto"] == 1


def test_manifest_schema_matches_inferred(spark, compacted_log):
    """Every table manifest and seen-base marker records the schema that
    footer inference returns for the same path."""
    from pyspark.sql.types import StructType

    log = compacted_log
    parts = [
        (sid, name, table)
        for sid in log.snapshot_ids()
        for name, table in log.read_snapshot(sid)["tables"].items()
    ]
    assert {name for _, name, _ in parts} == set(ROUND_TABLES)
    parts.append(("base", "seen_base", log.latest_seen_base(ROUNDS - 1)))
    for sid, name, table in parts:
        recorded = StructType.fromJson(table["schema"])
        assert recorded == spark.read.parquet(table["path"]).schema, (sid, name)


def test_vacuum_drops_superseded_seen_bases(spark, corpus_dfs, plain_log, tmp_path):
    """With compaction every round, vacuum keeps only the newest seen base
    (marker and data); load_seen for older rounds falls back to the
    retained deltas and still equals an uncompacted run's."""
    log = run_crawl(
        spark, *corpus_dfs, str(tmp_path / "v"), rounds=ROUNDS,
        compact_seen_every=1, vacuum_keep=1,
    )
    last = ROUNDS - 1
    bases = [d for d in os.listdir(log.data_dir) if d.startswith("seen_base=")]
    markers = [f for f in os.listdir(log.snap_dir) if f.startswith("base-")]
    assert bases == [f"seen_base={last}"]
    assert markers == [f"base-{last:08d}.json"]
    for r in range(ROUNDS):
        assert _seen_rows(load_seen(spark, log, r)) == \
            _seen_rows(load_seen(spark, plain_log, r)), r


def test_compact_seen_crash_before_marker(
    spark, corpus_dfs, plain_log, tmp_path, monkeypatch
):
    """A crash inside compact_seen after the base data is written but
    before its marker is renamed leaves a base no reader sees; a resume
    reproduces the uninterrupted run."""
    wh = str(tmp_path / "crash")
    real_rename = os.rename

    def rename(src, dst):
        if os.path.basename(dst).startswith("base-"):
            raise RuntimeError("crash before the compaction marker")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(RuntimeError, match="compaction marker"):
        run_crawl(spark, *corpus_dfs, wh, rounds=2, compact_seen_every=2)
    monkeypatch.undo()

    log = SnapshotLog(wh)
    assert log.latest_snapshot_id() == 1  # round 1 committed before the crash
    unmarked = os.path.join(log.data_dir, "seen_base=1")
    assert any(f.endswith(".parquet") for f in os.listdir(unmarked))
    assert log.latest_seen_base(1) is None
    files = load_seen(spark, log, 1).inputFiles()
    assert files and not any("seen_base=" in f for f in files)

    log = run_crawl(spark, *corpus_dfs, wh, rounds=ROUNDS, compact_seen_every=2)
    assert log.snapshot_ids() == plain_log.snapshot_ids()
    for r in plain_log.snapshot_ids():
        assert log.read_snapshot(r)["metrics"] == \
            plain_log.read_snapshot(r)["metrics"], r
        for name in ROUND_TABLES:
            assert _table_fingerprint(spark, log, r, name) == \
                _table_fingerprint(spark, plain_log, r, name), (r, name)


# -- narrow URL state: derived columns are re-derived on every read ---------


def _stored_columns(path: str) -> set[tuple[str, ...]]:
    """The column names of every Parquet file under `path`, from footers."""
    import pyarrow.parquet as pq

    return {
        tuple(pq.read_schema(os.path.join(path, f)).names)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }


def test_narrow_url_state_round_trips(spark, corpus_dfs, tmp_path):
    """The frontier files store only (url_norm, depth) and the seen delta
    and seen base files only url_norm. Loading them re-derives the other
    columns exactly: the loaded frontier equals, row for row,
    _min_depth_frontier's in-memory columns and the Column-API definitions
    of host, url_hash, salt and priority. Salt is checked here because no
    end-to-end check sees a wrong salt: the politeness window's second
    phase gives the exact per-host top-k whatever the salt is. load_seen's
    url_hash equals xxhash64(url_norm) computed apart from the read."""
    from pyspark.sql import functions as F

    from opps_feedcrawler_spark.functions.urlnorm import NSALTS, host_col
    from opps_feedcrawler_spark.operators.politeness import priority_col
    from opps_feedcrawler_spark.plans.crawl import (
        FRONTIER_COLS,
        _min_depth_frontier,
    )

    log = run_crawl(
        spark, *corpus_dfs, str(tmp_path / "wh"), rounds=2, compact_seen_every=2
    )
    base = log.latest_seen_base(1)
    assert base["upto"] == 1
    for r in (0, 1):
        tables = log.read_snapshot(r)["tables"]
        assert _stored_columns(tables["frontier"]["path"]) == {("url_norm", "depth")}
        assert _stored_columns(tables["seen_delta"]["path"]) == {("url_norm",)}
    assert _stored_columns(base["path"]) == {("url_norm",)}

    for r in (0, 1):
        loaded = log.load_table(spark, r, "frontier")
        assert loaded.columns == FRONTIER_COLS
        rows = sorted(tuple(x) for x in loaded.collect())
        assert rows, r
        # the stored pairs, rebuilt as a fresh DataFrame apart from the read
        pairs = spark.createDataFrame(
            [(x[0], x[4]) for x in rows], "url_norm string, depth int"
        )
        in_memory = _min_depth_frontier(pairs)
        assert sorted(tuple(x) for x in in_memory.collect()) == rows, r
        by_columns = pairs.select(
            "url_norm",
            host_col(F.col("url_norm")).alias("host"),
            F.xxhash64("url_norm").alias("url_hash"),
            F.pmod(F.xxhash64("url_norm"), F.lit(NSALTS)).cast("int").alias("salt"),
            "depth",
            priority_col().alias("priority"),
        )
        assert sorted(tuple(x) for x in by_columns.collect()) == rows, r

    seen = load_seen(spark, log, 1)
    assert seen.columns == ["url_norm", "url_hash"]
    got = sorted((x.url_norm, x.url_hash) for x in seen.collect())
    assert len(got) == log.read_snapshot(1)["metrics"]["seen_rows"]
    urls = spark.createDataFrame([(u,) for u, _ in got], "url_norm string")
    want = sorted(
        (x.url_norm, x.url_hash)
        for x in urls.select("url_norm", F.xxhash64("url_norm").alias("url_hash"))
        .collect()
    )
    assert got == want


def test_whole_stored_state_still_loads(
    spark, corpus_dfs, plain_log, tmp_path, monkeypatch
):
    """A warehouse written before URL state was stored narrow has every
    column stored and no "read_columns" key. It loads the same rows as a
    narrow one, and a resume from it (which writes narrow deltas after
    whole ones, then compacts the mix into one base) gives the same tables
    and metrics as an uninterrupted run."""
    from opps_feedcrawler_spark.plans.crawl import FRONTIER_COLS

    wh = str(tmp_path / "whole")
    monkeypatch.setattr(SnapshotLog, "NARROW_TABLES", ())
    run_crawl(spark, *corpus_dfs, wh, rounds=2)
    monkeypatch.undo()

    log = SnapshotLog(wh)
    for r in (0, 1):
        tables = log.read_snapshot(r)["tables"]
        assert not any("read_columns" in t for t in tables.values()), r
        assert _stored_columns(tables["frontier"]["path"]) == {tuple(FRONTIER_COLS)}
        assert _stored_columns(tables["seen_delta"]["path"]) == {
            ("url_norm", "url_hash")
        }
        for name in ROUND_TABLES:
            assert _table_fingerprint(spark, log, r, name) == \
                _table_fingerprint(spark, plain_log, r, name), (r, name)
        assert _seen_rows(load_seen(spark, log, r)) == \
            _seen_rows(load_seen(spark, plain_log, r)), r

    log = run_crawl(
        spark, *corpus_dfs, wh, rounds=ROUNDS, compact_seen_every=ROUNDS
    )
    last = ROUNDS - 1
    assert "read_columns" in log.read_snapshot(last)["tables"]["seen_delta"]
    assert log.latest_seen_base(last)["upto"] == last
    assert _stored_columns(log.latest_seen_base(last)["path"]) == {("url_norm",)}
    assert log.snapshot_ids() == plain_log.snapshot_ids()
    for r in plain_log.snapshot_ids():
        assert log.read_snapshot(r)["metrics"] == \
            plain_log.read_snapshot(r)["metrics"], r
        for name in ROUND_TABLES:
            assert _table_fingerprint(spark, log, r, name) == \
                _table_fingerprint(spark, plain_log, r, name), (r, name)
    assert _seen_rows(load_seen(spark, log, last)) == \
        _seen_rows(load_seen(spark, plain_log, last))


def test_crash_at_commit_point(spark, corpus_dfs, plain_log, tmp_path, monkeypatch):
    """A crash in SnapshotLog.commit of round 1, after all seven tables are
    written and at the rename that publishes the snapshot, leaves round 1
    invisible; a resume reproduces the uninterrupted run's tables and
    metrics."""
    wh = str(tmp_path / "commit")
    real_rename = os.rename

    def rename(src, dst):
        if os.path.basename(dst) == "snap-00000001.json":
            raise RuntimeError("crash at the commit point")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(RuntimeError, match="commit point"):
        run_crawl(spark, *corpus_dfs, wh, rounds=ROUNDS)
    monkeypatch.undo()

    log = SnapshotLog(wh)
    assert log.snapshot_ids() == [0]  # round 1 never happened
    for name in ROUND_TABLES:  # though all its data was written
        assert _stored_columns(log.table_path(1, name)), name

    log = run_crawl(spark, *corpus_dfs, wh, rounds=ROUNDS)
    assert log.snapshot_ids() == plain_log.snapshot_ids()
    for r in plain_log.snapshot_ids():
        assert log.read_snapshot(r)["metrics"] == \
            plain_log.read_snapshot(r)["metrics"], r
        for name in ROUND_TABLES:
            assert _table_fingerprint(spark, log, r, name) == \
                _table_fingerprint(spark, plain_log, r, name), (r, name)
