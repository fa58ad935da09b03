"""Semantic unit tests for round-3 batch-6 operators — properties the
DuckDB parity harness can't express (quantization range bounds,
per-language gate coverage, rank and depth invariants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from opps_feedcrawler_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


class TestEmbeddingQuantizeInt8:
    def test_int8_range_and_saturation(self, spark):
        out = QUERIES["embedding_quantize_int8"](spark, SF).toPandas()
        assert len(out) > 0
        assert (out["min_q"] >= -127).all()
        assert (out["max_q"] <= 127).all()
        # symmetric scheme: the max-|v| element saturates to +/-127
        assert ((out["max_q"] == 127) | (out["min_q"] == -127)).all()
        assert (out["scale"] > 0).all()


class TestTextBigramTopk:
    def test_rank_and_monotone_counts(self, spark):
        out = (
            QUERIES["text_bigram_topk"](spark, SF)
            .orderBy("rnk")
            .toPandas()
        )
        assert list(out["rnk"]) == list(range(1, len(out) + 1))
        assert len(out) <= 20
        assert (out["n"].diff().dropna() <= 0).all()
        assert all(" " in b for b in out["bigram"])


class TestTextNfcNormalize:
    def test_injected_decomposition_composes(self, spark):
        out = QUERIES["text_nfc_normalize"](spark, SF).toPandas()
        # corpus is ASCII; the injected e+U+0301 composes to one char
        assert (out["raw_len"] == out["nfc_len"] + 1).all()


class TestQualityGateByLang:
    def test_gate_keeps_upper_half_per_lang(self, spark):
        out = QUERIES["text_quality_gate_by_lang"](spark, SF).toPandas()
        docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
        assert (out["pr"] >= 0.5).all()
        # every language with >=2 docs keeps at least its longest doc
        for lang, grp in docs.groupby("lang"):
            if len(grp) >= 2:
                kept = set(out[out["lang"] == lang]["doc_id"])
                assert kept, lang
                # roughly half survive (percent_rank >= 0.5)
                assert len(kept) <= len(grp)


class TestUrlDepthStats:
    def test_depth_profile(self, spark):
        out = QUERIES["crawl_url_depth_stats"](spark, SF).toPandas()
        rows = {(int(r.depth), bool(r.has_query)) for r in out.itertuples()}
        # doc pages depth 2, calendar-trap depth 4, session-id depth 1+query
        assert rows == {(2, False), (4, False), (1, True)}
        qrow = out[out["has_query"]].iloc[0]
        assert qrow["n_urls"] > 0 and qrow["n_hosts"] > 0
