"""Iceberg-style snapshot log: atomic round commits, per-partition lineage,
metrics, time travel, bit-for-bit resume (SURVEY.md §2 A16-A17).

Reference behavior [PK]: one ORM transaction per entry + Celery retry — no
job-level resumability. North star: "each scheduling round is a checkpointed
Iceberg snapshot carrying per-partition lineage and fetch metrics, so a
killed job resumes bit-for-bit" (BASELINE.json:6).

No Iceberg runtime jar exists in this environment (SURVEY.md §4.2.5), so
this module implements the required subset with Parquet + a JSON snapshot
log and the SAME commit semantics:

- data files are written first (executor-side), under data/round=N/<table>/;
- the snapshot JSON (manifest of files + per-file row counts/bytes =
  per-partition lineage, plus round metrics) is written to a temp name and
  atomically os.rename()d into snapshots/ LAST;
- a crash anywhere before the rename leaves no visible snapshot → the round
  never happened → resume re-runs it deterministically (bit-for-bit because
  every plan in plans/crawl.py is a pure function of the previous snapshot:
  total-order sort keys, pinned shuffle partitioning, pure UDFs, no clock).

URL state is stored narrow. The frontier keeps only (url_norm, depth) and
the seen deltas and seen bases only url_norm: host, url_hash, salt and
priority are pure functions of those (DERIVED_COLUMNS), so they cost bytes
on every write and buy nothing. A manifest's "schema" is the stored
(footer) schema; its "read_columns" key lists every column a reader gets,
in order, as [name, Spark SQL expression over the stored columns], and
every read applies it in JVM codegen. A manifest without the key (product
tables, and every table of a warehouse written before state was stored
narrow) is read as stored. A reader with only json.load can recompute a
dropped column from its expression, e.g. url_hash = xxhash64(url_norm).

On a real cluster this module swaps for an Iceberg catalog
(`iceberg-spark-runtime`) behind the same commit()/latest_snapshot() API.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import reduce
from itertools import groupby

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..functions.urlnorm import NSALTS

# The URL-state columns that are pure functions of url_norm and depth, as
# Spark SQL over those two. The narrow tables drop them on write and every
# read re-derives them from this text; plans/crawl.py derives the in-memory
# frontier from the same text, so the two forms cannot drift.
DERIVED_COLUMNS = {
    "host": "regexp_extract(url_norm, '^https?://([^/]+)', 1)",
    "url_hash": "xxhash64(url_norm)",
    "salt": f"CAST(pmod(xxhash64(url_norm), {NSALTS}) AS INT)",
    "priority": "1.0D / (1.0D + CAST(depth AS DOUBLE))",
}


_NULLABLE_KEYS = ("nullable", "containsNull", "valueContainsNull")


def _as_nullable(schema):
    """Spark's DataType.asNullable on a jsonValue() schema: a Parquet read
    makes every column nullable, so this is the schema a reader of the
    written files sees (and what footer inference would return)."""
    if isinstance(schema, dict):
        return {
            k: True if k in _NULLABLE_KEYS else _as_nullable(v)
            for k, v in schema.items()
        }
    if isinstance(schema, list):
        return [_as_nullable(v) for v in schema]
    return schema


class SnapshotLog:
    def __init__(self, warehouse: str, codec: str | None = None) -> None:
        self.warehouse = warehouse
        self.snap_dir = os.path.join(warehouse, "snapshots")
        self.data_dir = os.path.join(warehouse, "data")
        # Snapshot-sink compression (VERDICT r4 #6 bytes-per-URL): the
        # `text` table is 94% of all engine-written bytes at the bench
        # profile (measured: 1,064 of 1,128 MB over 3 rounds), and zstd
        # beats snappy by ~31% on extracted text at negligible
        # distributed CPU (the decompress rides per-core CPU, which
        # scales; the byte volume rides the shared memory bus / network,
        # which doesn't). Same tradeoff already measured for the blob
        # warehouse in bench.py. Codec is part of the warehouse config,
        # not per-write, so compaction rewrites match the deltas.
        self.codec = codec or os.environ.get("OFS_SNAPSHOT_CODEC", "zstd")
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- write path ---------------------------------------------------------

    def table_path(self, round_no: int, name: str) -> str:
        return os.path.join(self.data_dir, f"round={round_no}", name)

    def _narrow(self, df: DataFrame, name: str) -> tuple[DataFrame, dict]:
        """The columns of table `name` to store, and the manifest keys that
        give a reader the rest: a NARROW_TABLES table drops its
        DERIVED_COLUMNS and records them under "read_columns"; any other
        table is stored whole, with no extra key."""
        if name not in self.NARROW_TABLES:
            return df, {}
        read_columns = [[c, DERIVED_COLUMNS.get(c, c)] for c in df.columns]
        stored = df.drop(*(c for c in df.columns if c in DERIVED_COLUMNS))
        return stored, {"read_columns": read_columns}

    def write_table(self, df: DataFrame, round_no: int, name: str) -> dict:
        """Write one table's Parquet and return its lineage manifest: the
        per-partition file list with row counts and byte sizes, read from the
        Parquet FOOTERS (no Spark job — the metrics/lineage path costs zero
        cluster work per round), and the schema a reader of the written files
        sees, which every later read of the table uses instead of inferring
        it. A NARROW_TABLES table is written without its DERIVED_COLUMNS; its
        manifest's "read_columns" re-derives them on every read, so
        load_table returns the columns of `df` in the order of `df`."""
        import pyarrow.parquet as pq

        path = self.table_path(round_no, name)
        df, extra = self._narrow(df, name)
        df.write.mode("overwrite").option("compression", self.codec).parquet(
            path
        )
        files = []
        total_rows = 0
        for fn in sorted(os.listdir(path)):
            if fn.endswith(".parquet"):
                full = os.path.join(path, fn)
                nrows = pq.ParquetFile(full).metadata.num_rows
                total_rows += nrows
                files.append(
                    {"file": fn, "bytes": os.path.getsize(full), "rows": nrows}
                )
        return {
            "path": path,
            "files": files,
            "rows": total_rows,
            "schema": _as_nullable(df.schema.jsonValue()),
            **extra,
        }

    @staticmethod
    def count_where(path: str, column: str, value) -> int:
        """Driver-side filtered count over a (small) per-round table via
        pyarrow dataset — used for metrics like fetched_ok without a job."""
        import pyarrow.dataset as ds

        return ds.dataset(path, format="parquet").count_rows(
            filter=(ds.field(column) == value)
        )

    def commit(
        self,
        round_no: int,
        manifests: dict[str, dict],
        metrics: dict[str, float],
        timings: dict[str, float] | None = None,
    ) -> int:
        """Atomically publish snapshot for round_no. Returns snapshot_id.

        ``timings`` (per-phase wall seconds) is observability metadata like
        committed_ts: stored under its own key, NEVER part of the
        deterministic contract (resume equality compares ``metrics`` and
        table fingerprints only — wall time is not reproducible)."""
        snapshot_id = round_no
        parent = self.latest_snapshot_id()
        doc = {
            "snapshot_id": snapshot_id,
            "parent_snapshot_id": parent,
            "round": round_no,
            "committed_ts": time.time(),  # metadata only — never in data path
            "tables": manifests,
            "metrics": metrics,
            "timings": timings or {},
        }
        self._publish(f"snap-{snapshot_id:08d}.json", doc)  # the commit point
        return snapshot_id

    def _publish(self, name: str, doc: dict) -> None:
        """Write `doc` to a temp file in snapshots/ and atomically rename it
        to `name`: readers see the whole document or nothing."""
        tmp = os.path.join(self.snap_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(self.snap_dir, name))

    # -- seen-delta compaction ----------------------------------------------
    #
    # The cumulative URL-seen set is stored as per-round DELTA files
    # (plans/crawl.py); load_seen() unions them. At 10^10 URLs a crawl runs
    # thousands of rounds, so the per-read file-set grows unboundedly —
    # compaction folds rounds 0..k into ONE base table so reads become
    # base + deltas-after-k. Same commit discipline as snapshots: data
    # first, marker JSON atomically renamed LAST; a crash mid-compaction
    # leaves no marker and readers keep using raw deltas. Contents are
    # bit-equivalent (deltas are disjoint by construction, so the base is
    # exactly their union) — resume and oracle equality are unaffected,
    # which tests/test_resume.py asserts end-to-end.

    def compact_seen(self, spark: SparkSession, upto_round: int) -> dict:
        """Fold seen deltas of rounds 0..upto_round into one base table,
        written as read: one Spark job, one file per scan split (Spark sizes
        the splits from the input bytes), no shuffle. The base is stored
        narrow like a delta (url_norm only) and its marker carries the same
        "schema" and "read_columns" keys as a delta's manifest, whatever
        mix of narrow and whole deltas it folds. Idempotent per
        upto_round. Old delta files are retained for time travel to rounds
        < upto_round; vacuum_engine_state drops superseded bases."""
        deltas = [
            self.read_snapshot(r)["tables"]["seen_delta"]
            for r in range(upto_round + 1)
        ]
        base, extra = self._narrow(self.read_all(spark, deltas), "seen_delta")
        out = os.path.join(self.data_dir, f"seen_base={upto_round}")
        base.write.mode("overwrite").option("compression", self.codec).parquet(
            out
        )
        doc = {
            "upto": upto_round,
            "path": out,
            "schema": _as_nullable(base.schema.jsonValue()),
            **extra,
        }
        self._publish(f"base-{upto_round:08d}.json", doc)  # the commit point
        return doc

    def _seen_base_uptos(self) -> list[int]:
        return sorted(
            int(fn[len("base-") : -len(".json")])
            for fn in os.listdir(self.snap_dir)
            if fn.startswith("base-") and fn.endswith(".json")
        )

    def latest_seen_base(self, max_round: int) -> dict | None:
        """Newest committed base with upto ≤ max_round, else None."""
        uptos = [u for u in self._seen_base_uptos() if u <= max_round]
        best = max(uptos, default=None)
        if best is None:
            return None
        with open(os.path.join(self.snap_dir, f"base-{best:08d}.json")) as f:
            return json.load(f)

    # Engine-STATE tables are superseded every round (the next snapshot
    # carries the whole frontier/bloom/cumulative seen view); PRODUCT
    # tables are the crawl's output and must never be vacuumed.
    ENGINE_STATE_TABLES = ("frontier", "bloom", "schedule")
    # URL-state tables stored without their DERIVED_COLUMNS (write_table,
    # compact_seen); every read re-derives them from the manifest.
    NARROW_TABLES = ("frontier", "seen_delta")

    def vacuum_engine_state(self, keep_last: int = 1) -> list[int]:
        """Delete superseded engine-state table data (frontier/bloom/
        schedule) for all but the newest `keep_last` snapshots — the
        frontier and bloom are the largest per-round rewrites, so without
        vacuuming a long crawl's warehouse grows O(rounds × frontier).
        Product tables (text/entries/fetch_log) and seen deltas are never
        touched (deltas feed load_seen until compacted; product is the
        point of the crawl). Each vacuumed snapshot's JSON is atomically
        rewritten with the pruned tables recorded under "expired_tables"
        BEFORE their data is deleted, so time travel fails loudly
        (KeyError) rather than reading half-deleted data, and a crash
        mid-vacuum can only orphan files, never leave a snapshot naming a
        missing path. Resume only ever reads the LATEST snapshot's
        state, so vacuuming older rounds is resume-transparent
        (tests/test_resume.py).

        Every seen base older than the newest committed one is dropped too
        (each compaction writes a full copy of the seen set): its marker
        first, its data second, so a crash in between only orphans files.
        load_seen for older rounds then reads the retained deltas.
        Returns the vacuumed snapshot ids."""
        if keep_last < 1:
            raise ValueError(
                "keep_last must be >= 1: the newest snapshot's engine "
                "state is what resume reads"
            )
        ids = self.snapshot_ids()
        vacuumed = []
        for sid in ids[: max(0, len(ids) - keep_last)]:
            snap = self.read_snapshot(sid)
            pruned = [
                t for t in self.ENGINE_STATE_TABLES if t in snap["tables"]
            ]
            if not pruned:
                continue
            paths = [snap["tables"].pop(t)["path"] for t in pruned]
            snap["expired_tables"] = sorted(
                set(snap.get("expired_tables", [])) | set(pruned)
            )
            self._publish(f"snap-{sid:08d}.json", snap)
            # only now: a crash before this line orphans files, no more
            for path in paths:
                shutil.rmtree(path, ignore_errors=True)
            vacuumed.append(sid)
        for upto in self._seen_base_uptos()[:-1]:
            marker = os.path.join(self.snap_dir, f"base-{upto:08d}.json")
            with open(marker) as f:
                path = json.load(f)["path"]
            os.remove(marker)
            shutil.rmtree(path, ignore_errors=True)
        return vacuumed

    # -- read path ----------------------------------------------------------

    def snapshot_ids(self) -> list[int]:
        out = []
        for fn in os.listdir(self.snap_dir):
            if fn.startswith("snap-") and fn.endswith(".json"):
                out.append(int(fn[len("snap-") : -len(".json")]))
        return sorted(out)

    def latest_snapshot_id(self) -> int | None:
        ids = self.snapshot_ids()
        return ids[-1] if ids else None

    def read_snapshot(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.snap_dir, f"snap-{snapshot_id:08d}.json")) as f:
            return json.load(f)

    def load_table(
        self, spark: SparkSession, snapshot_id: int, name: str
    ) -> DataFrame:
        """Time travel: read table `name` exactly as of snapshot_id."""
        return self.read(spark, self.read_snapshot(snapshot_id)["tables"][name])

    @staticmethod
    def read(spark: SparkSession, table: dict, *paths: str) -> DataFrame:
        """Read Parquet `paths` (default: the table's own "path") as the
        manifest or seen-base marker `table` describes them: with the
        stored schema it recorded (jsonValue form), then, if it has
        "read_columns", projected through those expressions so the derived
        columns come back in their written order. Nothing is inferred from
        footers, so building the DataFrame submits no Spark job. There is
        no fallback to inference: a manifest without a schema fails with
        KeyError here."""
        df = spark.read.schema(StructType.fromJson(table["schema"])).parquet(
            *(paths or (table["path"],))
        )
        if "read_columns" not in table:
            return df
        return df.selectExpr(*(f"{e} AS {c}" for c, e in table["read_columns"]))

    @classmethod
    def read_all(cls, spark: SparkSession, tables: list[dict]) -> DataFrame:
        """Union of `tables` (manifests or markers of one logical table) as
        read. Consecutive tables stored alike share one multi-path scan, so
        a warehouse written in one layout is read with one scan however
        many rounds it spans; one that changed layout mid-crawl unions one
        scan per run of alike tables."""
        def layout(t: dict) -> str:
            return json.dumps([t["schema"], t.get("read_columns")])

        scans = []
        for _, run in groupby(tables, key=layout):
            run = list(run)
            scans.append(cls.read(spark, run[0], *(t["path"] for t in run)))
        return reduce(DataFrame.unionByName, scans)
