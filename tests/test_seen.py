from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opps_feedcrawler_spark.operators.seen import (
    bloom_to_broadcast,
    build_seen_bloom,
    exact_new_urls,
    filter_new_urls,
    probe_seen_broadcast,
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
def test_bloom_prefilter_matches_exact_antijoin(spark, bits):
    """filter_new_urls probes once and splits the probed rows in two;
    together the branches must give exactly exact_new_urls' rows. At 128
    bits per bucket, a bloom over 300 seen URLs is dense enough that the
    new candidates include bloom positives, so all three kinds of
    candidate are present: definite-new, bloom-positive but new, and
    already seen."""
    nb = 8
    seen = _urls(spark, [f"http://h{i % 5}.example/s/{i}" for i in range(300)])
    cand = _urls(
        spark,
        [f"http://h{i % 5}.example/s/{i}" for i in range(200, 400)]
        + [f"http://h{i % 5}.example/new/{i}" for i in range(100)],
    )
    bcast = bloom_to_broadcast(spark, build_seen_bloom(seen, nbuckets=nb, bits=bits))
    exact = sorted(exact_new_urls(cand, seen).collect())
    assert len(exact) == 200  # 100 unseen /s/ + 100 /new/
    if bits == 1 << 7:
        exact_urls = {r.url_norm for r in exact}
        probed = probe_seen_broadcast(cand, bcast, nbuckets=nb, bits=bits).collect()
        kinds = {(r.url_norm in exact_urls, r.maybe_seen) for r in probed}
        assert kinds == {(True, False), (True, True), (False, True)}

    fresh, unpersist = filter_new_urls(cand, seen, bcast, nbuckets=nb, bits=bits)
    assert fresh.columns == cand.columns
    assert sorted(fresh.collect()) == exact
    unpersist()
    bcast.unpersist()
