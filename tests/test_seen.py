from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from opps_feedcrawler_spark.operators.seen import (
    _positions,
    bloom_and_probe,
    bloom_to_broadcast,
    build_seen_bloom,
    exact_new_urls,
    merge_blooms,
    probe_seen_broadcast,
    split_seen_table,
)


def _urls(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], ["url_norm"])
    return df.withColumn("url_hash", F.xxhash64("url_norm"))


def test_bloom_no_false_negatives(spark):
    seen = _urls(spark, [f"http://h{i % 7}.example/p/{i}" for i in range(500)])
    bloom = build_seen_bloom(seen, nbuckets=8, bits=1 << 14)
    bcast = bloom_to_broadcast(spark, bloom)
    probed = probe_seen_broadcast(seen, bcast, nbuckets=8, bits=1 << 14)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    bcast.unpersist()


@pytest.mark.parametrize("bits", [1 << 7, 1 << 14])
def test_bloom_and_probe_matches_exact_antijoin(spark, bits):
    """bloom_and_probe probes the candidates once against base ∪ delta;
    its definite-new rows plus the exact anti-join of its bloom positives
    must give exactly exact_new_urls' rows, and every base and delta URL
    must probe maybe_seen (no false negatives). At 128 bits per bucket, a
    bloom over 300 seen URLs is dense enough that the new candidates
    include bloom positives, so all three kinds of candidate are present:
    definite-new, bloom-positive but new, and already seen."""
    nb = 8
    seen_urls = [f"http://h{i % 5}.example/s/{i}" for i in range(300)]
    base_seen = _urls(spark, seen_urls[:150])
    delta = _urls(spark, seen_urls[150:])
    seen = base_seen.unionByName(delta)
    cand = _urls(
        spark,
        [f"http://h{i % 5}.example/s/{i}" for i in range(400)]
        + [f"http://h{i % 5}.example/new/{i}" for i in range(100)],
    ).withColumn("depth", F.lit(1))
    base = build_seen_bloom(base_seen, nbuckets=nb, bits=bits)
    _, probed = split_seen_table(bloom_and_probe(delta, base, cand, nb, bits))
    exact = sorted(exact_new_urls(cand, seen).select("url_norm").collect())
    assert len(exact) == 200  # 100 unseen /s/ + 100 /new/

    rows = probed.collect()
    assert len(rows) == 500
    exact_urls = {r.url_norm for r in exact}
    assert all(r.maybe_seen for r in rows if r.url_norm not in exact_urls)
    if bits == 1 << 7:
        kinds = {(r.url_norm in exact_urls, r.maybe_seen) for r in rows}
        assert kinds == {(True, False), (True, True), (False, True)}

    maybe = probed.filter(F.col("maybe_seen"))
    fresh = (
        probed.filter(~F.col("maybe_seen"))
        .select("url_norm")
        .unionByName(exact_new_urls(maybe, seen).select("url_norm"))
    )
    assert sorted(fresh.collect()) == exact


# xxhash64 values are spread over the whole int64 range; these pin the
# extremes and values just above 2^53, where a float64 round trip drops
# the low bits
WIDE_HASHES = [2**53 + 1, 2**53 + 3, 2**62 + 5, 2**63 - 1, -(2**63), -(2**53) - 1]


@pytest.mark.parametrize("bits", [1 << 7, 1 << 14])
@pytest.mark.parametrize("with_base", [False, True])
def test_bloom_and_probe_bitsets_match_merge(spark, with_base, bits):
    """The fused stage writes the same bitset bytes, bucket for bucket, as
    merge_blooms(base, build_seen_bloom(delta)) (build_seen_bloom(delta)
    alone with no base), and gives every candidate the verdict of a
    per-hash, per-bit test against that table. At 128 bits the bitsets
    are dense enough that many new candidates have some but not all of
    their bits set."""
    nb = 8
    delta = _urls(spark, [f"http://d{i % 3}.example/{i}" for i in range(60)]).unionByName(
        spark.createDataFrame(
            [(f"http://wide.example/{h}", h) for h in WIDE_HASHES],
            "url_norm string, url_hash long",
        )
    )
    base = (
        build_seen_bloom(
            _urls(spark, [f"http://b{i % 3}.example/{i}" for i in range(90)]), nb, bits
        )
        if with_base
        else None
    )
    cand = delta.unionByName(
        _urls(spark, [f"http://c.example/{i}" for i in range(200)])
    ).withColumn("depth", F.lit(2))

    bloom, probed = split_seen_table(bloom_and_probe(delta, base, cand, nb, bits))
    ref = build_seen_bloom(delta, nb, bits)
    if base is not None:
        ref = merge_blooms(base, ref)
    got = {r.bucket: bytes(r.bitset) for r in bloom.collect()}
    want = {r.bucket: bytes(r.bitset) for r in ref.collect()}
    assert got == want

    def maybe_seen(h):
        bs = want.get(h % nb)
        return bs is not None and all(
            bs[p >> 3] >> (p & 7) & 1 for p in _positions(np.array([h]), bits)[0]
        )

    rows = probed.collect()
    assert sorted((r.url_norm, r.depth, r.url_hash) for r in rows) == sorted(
        (r.url_norm, 2, r.url_hash) for r in cand.collect()
    )
    assert all(r.maybe_seen == maybe_seen(r.url_hash) for r in rows)
    assert all(r.maybe_seen for r in rows if r.url_hash in WIDE_HASHES)
