"""Distributed URL-seen bloom filter (SURVEY.md §2 A5-A7).

Reference behavior [PK]: per-entry existence query by link before insert
(SURVEY.md §1.1 "Seen-set"). North star: "a distributed bloom/cuckoo
URL-seen filter built via vectorized Arrow UDFs over canonicalized+
murmur3-hashed URLs" (BASELINE.json:6). The crawl never un-sees a URL, so
the deletable (cuckoo) variant has no job here; the bloom is the one filter.

Design: the url_hash space is split into NBUCKETS buckets
(bucket = pmod(url_hash, NBUCKETS)); each bucket owns an m-bit bloom bitset
(numpy bit ops — vectorized, no per-row Python). A crawl round maintains
and probes the filter in ONE co-partitioned Arrow stage (bloom_and_probe):
the round's seen delta, the previous round's bitset rows and the round's
distinct candidates are co-grouped by bucket, and one grouped-map call per
bucket ORs the old bitsets, sets the delta's bits, emits the new bitset row
and probes the bucket's candidates against it. Nothing of the filter
passes through the driver.

Exactness contract (SURVEY.md §4.2.3): the final URL-seen set must MATCH the
reference's exactly (BASELINE.json:6,14), so the bloom is strictly a
work-skipping PRE-filter — a positive may only route the candidate into the
exact anti-join (A7); a negative (guaranteed-correct: no false negatives)
skips the join probe. Membership truth is always the exact anti-join.

Scale note: a bloom_and_probe task holds one bucket's bitset
(BITS_PER_BUCKET/8 bytes) plus that bucket's share of the round's
candidates and seen delta, whatever the total filter size. The filter
grows by raising NBUCKETS together with BITS_PER_BUCKET (10^10 URLs at a
1% FP rate want ~12 GiB of bitset: e.g. 2^16 buckets of 2^20 bits), and no
single process ever holds the whole table.

build_seen_bloom, merge_blooms, bloom_to_broadcast and probe_seen_broadcast
are the same filter taken one step at a time (build, OR, collect and
broadcast, probe). No crawl path runs them; they stay for the benchmark's
staged replay and for tests/test_seen.py, which checks bloom_and_probe's
bitsets and verdicts against them. Every path sets and tests bits through
_set_bits/_test_bits, so there is one bit layout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NBUCKETS = 64
BITS_PER_BUCKET = 1 << 17  # 16 KiB per bucket at test scale
N_HASHES = 4


def _positions(hashes: np.ndarray, m: int) -> np.ndarray:
    """(n, N_HASHES) bit positions via splitmix64-style remixes of the
    64-bit url_hash. Vectorized numpy; pure function of the hash."""
    h = hashes.astype(np.uint64)
    out = np.empty((h.shape[0], N_HASHES), dtype=np.int64)
    z = h.copy()
    for i in range(N_HASHES):
        z = z + np.uint64(0x9E3779B97F4A7C15)
        x = z.copy()
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
        out[:, i] = (x % np.uint64(m)).astype(np.int64)
    return out


def _set_bits(arr: np.ndarray, hashes: np.ndarray, bits: int) -> None:
    """Set the bloom bits of `hashes` in one bucket's bitset, in place."""
    pos = _positions(hashes, bits).ravel()
    np.bitwise_or.at(arr, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _test_bits(arr: np.ndarray, hashes: np.ndarray, bits: int) -> np.ndarray:
    """maybe_seen per hash: all N_HASHES bits set in one bucket's bitset."""
    pos = _positions(hashes, bits)
    return ((arr[pos >> 3] >> (pos & 7)) & 1).all(axis=1)


def _bucket(nbuckets: int):
    return F.pmod(F.col("url_hash"), F.lit(nbuckets)).cast("int").alias("bucket")


def build_seen_bloom(
    seen: DataFrame,
    nbuckets: int = NBUCKETS,
    bits: int = BITS_PER_BUCKET,
) -> DataFrame:
    """seen(url_hash) → bloom(bucket int, bitset binary). One grouped-map
    Arrow UDF per bucket; inside, pure numpy (np.bitwise_or.at)."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros(bits // 8, dtype=np.uint8)
        _set_bits(arr, pdf["url_hash"].to_numpy(), bits)
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "bitset": [arr.tobytes()]}
        )

    return (
        seen.select("url_hash", _bucket(nbuckets))
        .groupBy("bucket")
        .applyInPandas(_build, "bucket int, bitset binary")
    )


def merge_blooms(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-combine two bloom tables bucket-wise (incremental maintenance:
    at 10^10 URLs the seen set only ever grows, so each round ORs the
    round-delta's bitsets into the existing table instead of rebuilding
    from scratch — O(delta) instead of O(total) per round)."""

    def _or(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        frames = [f for f in (left, right) if not f.empty]
        bucket = int(frames[0]["bucket"].iloc[0])
        acc: np.ndarray | None = None
        # OR EVERY row of both sides: a caller may legitimately pass a
        # union of several per-round delta tables (multiple rows per
        # bucket); reading only the first row would silently drop bits
        # and turn bloom misses into false definite-news (round-2 review
        # finding) — the filter's no-false-negative contract.
        for f in frames:
            for bs in f["bitset"]:
                arr = np.frombuffer(bs, dtype=np.uint8)
                acc = arr.copy() if acc is None else (acc | arr)
        return pd.DataFrame({"bucket": [bucket], "bitset": [acc.tobytes()]})

    return (
        a.groupBy("bucket")
        .cogroup(b.groupBy("bucket"))
        .applyInPandas(_or, "bucket int, bitset binary")
    )


def exact_new_urls(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """A7: exact dedup — candidates not yet crawled (left_anti on url_norm).
    This is the membership truth; the bloom only trims its probe side."""
    return candidates.join(seen.select("url_norm"), "url_norm", "left_anti")


def bloom_to_broadcast(spark, bloom: DataFrame):
    """Materialize the bloom table into a driver dict and broadcast it.
    The caller unpersists the broadcast once the probe has been consumed.
    Bounded only by the table's size (NBUCKETS × BITS_PER_BUCKET/8 bytes);
    no crawl path calls it (see the module docstring)."""
    return spark.sparkContext.broadcast(
        {int(r.bucket): bytes(r.bitset) for r in bloom.collect()}
    )


def probe_seen_broadcast(
    candidates: DataFrame,
    bloom_bcast,
    nbuckets: int = NBUCKETS,
    bits: int = BITS_PER_BUCKET,
) -> DataFrame:
    """Broadcast-bloom probe: candidates + maybe_seen in a single narrow
    stage (numpy bit tests over the broadcast bitsets, Arrow-batched)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    @pandas_udf(BooleanType())
    def _probe(url_hash: pd.Series) -> pd.Series:
        if len(url_hash) == 0:
            return pd.Series([], dtype=bool)
        blooms = bloom_bcast.value
        h = url_hash.to_numpy()
        buckets = (h % nbuckets + nbuckets) % nbuckets
        hit = np.zeros(len(h), dtype=bool)
        for b in np.unique(buckets):
            bs = blooms.get(int(b))
            if bs is not None:
                idx = np.where(buckets == b)[0]
                hit[idx] = _test_bits(np.frombuffer(bs, dtype=np.uint8), h[idx], bits)
        return pd.Series(hit)

    return candidates.withColumn("maybe_seen", _probe(F.col("url_hash")))


SEEN_TABLE_SCHEMA = (
    "bucket int, bitset binary, url_norm string, depth int, url_hash long, "
    "maybe_seen boolean"
)


def bloom_and_probe(
    seen_delta: DataFrame,
    base_bloom: DataFrame | None,
    candidates: DataFrame,
    nbuckets: int = NBUCKETS,
    bits: int = BITS_PER_BUCKET,
) -> DataFrame:
    """A5+A6 in one co-partitioned Arrow stage: build the delta's bits, OR
    them into the previous round's bitsets and probe the candidates, per
    bucket, in one cogroup(...).applyInPandas call.

    Inputs: seen_delta(url_hash), base_bloom(bucket, bitset) or None, and
    the round's distinct candidates(url_norm, depth, url_hash). Output: one
    table (SEEN_TABLE_SCHEMA) holding both halves; split_seen_table
    separates them. Bitset rows carry a non-null bitset, one per bucket
    present in base ∪ delta, with the same bytes as
    merge_blooms(base, build_seen_bloom(delta)). Candidate rows carry a null
    bitset and the verdict probe_seen_broadcast gives against that table.

    The hash columns never hold a null, on either side of the UDF: pandas
    turns an int64 column with nulls into float64, which rounds hashes
    above 2^53 and moves their bits. Base-bitset rows therefore enter with
    hash 0 and are told apart by their non-null bitset, and bitset rows
    leave with depth and url_hash 0."""

    def _stage(key, inputs: pd.DataFrame, cand: pd.DataFrame) -> pd.DataFrame:
        bucket = int(key[0])
        frames = []
        hit = np.zeros(len(cand), dtype=bool)
        if not inputs.empty:
            old = inputs["bitset"].notna().to_numpy()
            arr = np.zeros(bits // 8, dtype=np.uint8)
            for bs in inputs["bitset"][old]:
                arr |= np.frombuffer(bs, dtype=np.uint8)
            _set_bits(arr, inputs["hash"].to_numpy()[~old], bits)
            frames.append(pd.DataFrame({
                "bucket": [bucket], "bitset": [arr.tobytes()], "url_norm": [None],
                "depth": [0], "url_hash": [0], "maybe_seen": [False],
            }))
            if not cand.empty:
                hit = _test_bits(arr, cand["url_hash"].to_numpy(), bits)
        if not cand.empty:
            frames.append(pd.DataFrame({
                "bucket": bucket, "bitset": None, "url_norm": cand["url_norm"],
                "depth": cand["depth"], "url_hash": cand["url_hash"], "maybe_seen": hit,
            }))
        return pd.concat(frames, ignore_index=True)

    # the bloom side renames url_hash: when both sides derive from one
    # DataFrame (candidates drawn from the delta itself) they would share
    # its attribute, and Spark then prunes it from the candidates' side
    inputs = seen_delta.select(
        F.col("url_hash").alias("hash"),
        F.lit(None).cast("binary").alias("bitset"),
        _bucket(nbuckets),
    )
    if base_bloom is not None:
        inputs = inputs.unionByName(
            base_bloom.select(F.lit(0).cast("long").alias("hash"), "bitset", "bucket")
        )
    cand = candidates.select("url_norm", "depth", "url_hash", _bucket(nbuckets))
    return (
        inputs.groupBy("bucket")
        .cogroup(cand.groupBy("bucket"))
        .applyInPandas(_stage, SEEN_TABLE_SCHEMA)
    )


def split_seen_table(table: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(bloom(bucket, bitset), probed(url_norm, depth, url_hash, maybe_seen))
    halves of a bloom_and_probe table."""
    has_bits = F.col("bitset").isNotNull()
    return (
        table.filter(has_bits).select("bucket", "bitset"),
        table.filter(~has_bits).select("url_norm", "depth", "url_hash", "maybe_seen"),
    )
