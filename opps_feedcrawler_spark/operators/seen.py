"""Distributed URL-seen bloom filter (SURVEY.md §2 A5-A7).

Reference behavior [PK]: per-entry existence query by link before insert
(SURVEY.md §1.1 "Seen-set"). North star: "a distributed bloom/cuckoo
URL-seen filter built via vectorized Arrow UDFs over canonicalized+
murmur3-hashed URLs" (BASELINE.json:6). The crawl never un-sees a URL, so
the deletable (cuckoo) variant has no job here; the bloom is the one filter.

Design: the url_hash space is range-partitioned into NBUCKETS buckets
(bucket = pmod(url_hash, NBUCKETS)); each bucket owns an m-bit bloom bitset
built by a grouped-map Arrow UDF (numpy bit ops — vectorized, no per-row
Python). The bitset table is collected and broadcast, and candidates are
probed against it in one narrow Arrow-UDF stage (probe_seen_broadcast).

Exactness contract (SURVEY.md §4.2.3): the final URL-seen set must MATCH the
reference's exactly (BASELINE.json:6,14), so the bloom is strictly a
work-skipping PRE-filter — a positive may only route the candidate into the
exact anti-join (A7); a negative (guaranteed-correct: no false negatives)
skips the join probe. Membership truth is always the exact anti-join.

Scale note: the table's size is NBUCKETS × BITS_PER_BUCKET/8 bytes whatever
the input, so the broadcast is bounded by the constants alone, and the
module refuses to import if they exceed BROADCAST_BLOOM_MAX_BYTES. A crawl
that needs a larger filter (10^10 URLs at a 1% FP rate want ~12 GiB of
bitset) means re-deciding these constants and the probe together: a
broadcast of that size does not fit an executor.
"""

from __future__ import annotations

from typing import Callable, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

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


def build_seen_bloom(
    seen: DataFrame,
    nbuckets: int = NBUCKETS,
    bits: int = BITS_PER_BUCKET,
) -> DataFrame:
    """seen(url_hash) → bloom(bucket int, bitset binary). One grouped-map
    Arrow UDF per bucket; inside, pure numpy (np.bitwise_or.at)."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros(bits // 8, dtype=np.uint8)
        pos = _positions(pdf["url_hash"].to_numpy(), bits).ravel()
        np.bitwise_or.at(arr, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "bitset": [arr.tobytes()]}
        )

    return (
        seen.select(
            "url_hash",
            F.pmod(F.col("url_hash"), F.lit(nbuckets)).cast("int").alias("bucket"),
        )
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


# Bound on the broadcast bloom: the driver collects the whole bitset table
# and every executor holds a copy. 256 MiB keeps both comfortably inside
# normal driver and executor memory.
BROADCAST_BLOOM_MAX_BYTES = 256 << 20
if NBUCKETS * (BITS_PER_BUCKET // 8) > BROADCAST_BLOOM_MAX_BYTES:
    raise ValueError(
        "the bloom no longer fits one broadcast: re-decide NBUCKETS, "
        "BITS_PER_BUCKET and the probe together"
    )


def bloom_to_broadcast(spark, bloom: DataFrame):
    """Materialize the bloom table into a driver dict and broadcast it.
    Its size is fixed by the bucket count and bits per bucket; the module
    constants are checked against BROADCAST_BLOOM_MAX_BYTES at import.
    The caller unpersists the broadcast once the probe has been consumed."""
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
        pos = _positions(h, bits)
        hit = np.ones(len(h), dtype=bool)
        arrs = {b: np.frombuffer(v, dtype=np.uint8) for b, v in blooms.items()}
        for b in np.unique(buckets):
            idx = np.where(buckets == b)[0]
            arr = arrs.get(int(b))
            if arr is None:
                hit[idx] = False
                continue
            ok = np.ones(len(idx), dtype=bool)
            for i in range(N_HASHES):
                p = pos[idx, i]
                ok &= (arr[p >> 3] & (1 << (p & 7)).astype(np.uint8)) != 0
            hit[idx] = ok
        return pd.Series(hit)

    return candidates.withColumn("maybe_seen", _probe(F.col("url_hash")))


def filter_new_urls(
    candidates: DataFrame,
    seen: DataFrame,
    bloom_bcast,
    nbuckets: int = NBUCKETS,
    bits: int = BITS_PER_BUCKET,
) -> Tuple[DataFrame, Callable[[], None]]:
    """Composed A5+A6+A7. Probe once, split twice: persist the probed
    candidates and fill the cache with one job, then read both branches
    from it — definite-new rows skip the anti-join entirely, only
    bloom-positives probe the seen table. Unpersisted, the union would run
    the probe once per branch, and Catalyst is free to push each branch's
    maybe_seen filter (a function of url_hash alone) below the candidates'
    dedup aggregate, probing every raw candidate row instead of the
    distinct ones. Returns ``(new_rows, unpersist)``: the caller releases
    the cache once the result has been consumed."""
    probed = probe_seen_broadcast(candidates, bloom_bcast, nbuckets, bits).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    probed.count()
    definite_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    return (
        definite_new.unionByName(exact_new_urls(maybe, seen)),
        lambda: probed.unpersist(),
    )
