"""The driver-contract entry point (``__spark_entry__.entry``): one crawl
round over the sf0.001 documents corpus, returned as the round's schedule
in ``seq`` order, with none of the round's caches left behind."""

from __future__ import annotations

import __spark_entry__ as E


def test_entry_rows_in_seq_order_and_no_cache_left(spark):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    df = E.entry(spark)
    rows = [tuple(r) for r in df.collect()]
    assert jsc.getPersistentRDDs().size() == before
    assert df.columns == ["round", "seq", "url_norm", "host", "priority", "text_len"]
    assert len(rows) == 80
    assert [r[1] for r in rows] == list(range(1, 81))
    assert {r[0] for r in rows} == {0}
    assert rows[0] == (0, 1, "http://src0.example/doc/0", "src0.example", 1.0, 128)
    assert rows[-1] == (0, 80, "http://src15.example/doc/275", "src15.example", 1.0, 371)
    assert all(r[5] > 0 for r in rows)
