"""Unit tests for operators/frontier.py (redirect resolution,
conditional-GET decisions, AIMD budgets) and urlnorm.registrable_domain —
the properties the sf0.01 oracle parity sweep can't isolate (loop
bounding, absent-host branch, PSL fallback)."""

from __future__ import annotations

from pyspark.sql import functions as F

from opps_feedcrawler_spark.functions.urlnorm import registrable_domain
from opps_feedcrawler_spark.operators.frontier import (
    adaptive_budget_round,
    recrawl_decisions,
    resolve_redirects,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema=schema)


class TestResolveRedirects:
    def test_chain_loop_and_plain(self, spark):
        frontier = _df(
            spark,
            [("a",), ("b",), ("x",), ("p",), ("loop1",)],
            "url string",
        )
        redirects = _df(
            spark,
            [
                ("a", "b"),  # a -> b -> c (2 hops)
                ("b", "c"),
                ("x", "y"),  # single hop
                ("loop1", "loop2"),  # 2-cycle: never terminates
                ("loop2", "loop1"),
            ],
            "src string, dst string",
        )
        out = {
            r["url"]: r
            for r in resolve_redirects(frontier, redirects, max_hops=3).collect()
        }
        assert out["a"]["final_url"] == "c"
        assert out["a"]["n_hops"] == 2
        assert out["a"]["resolved"] is True
        assert out["x"]["final_url"] == "y" and out["x"]["n_hops"] == 1
        assert out["p"]["final_url"] == "p" and out["p"]["n_hops"] == 0
        assert out["p"]["resolved"] is True
        # the loop walks exactly max_hops then reports unresolved
        assert out["loop1"]["n_hops"] == 3
        assert out["loop1"]["resolved"] is False

    def test_chain_longer_than_max_hops_unresolved(self, spark):
        frontier = _df(spark, [("n0",)], "url string")
        chain = [(f"n{i}", f"n{i+1}") for i in range(5)]
        redirects = _df(spark, chain, "src string, dst string")
        row = resolve_redirects(frontier, redirects, max_hops=3).collect()[0]
        assert row["final_url"] == "n3"
        assert row["n_hops"] == 3
        assert row["resolved"] is False


class TestRecrawlDecisions:
    def test_ladder(self, spark):
        inv = _df(
            spark,
            [
                # (url, last_fetch, stored, live): age=now-last_fetch
                ("fresh", 950, "e1", "e9"),  # age 50 < ttl 100
                ("same", 800, "e1", "e1"),  # age 200, etag hit
                ("changed", 800, "e1", "e2"),  # age 200, etag miss
            ],
            "url string, last_fetch_ts long, etag_stored string, "
            "etag_live string",
        )
        out = {
            r["url"]: r["decision"]
            for r in recrawl_decisions(
                inv, now_ts=F.lit(1000), ttl_secs=F.lit(100)
            ).collect()
        }
        assert out == {
            "fresh": "fresh",
            "same": "not_modified",
            "changed": "refetch",
        }


class TestAdaptiveBudget:
    def test_three_branches(self, spark):
        budgets = _df(
            spark,
            [("hot", 100), ("ok", 100), ("idle", 100), ("floor", 1),
             ("ceil", 499)],
            "host string, budget int",
        )
        stats = _df(
            spark,
            [
                ("hot", 100, 10),  # 10% errors -> halve
                ("ok", 100, 9),  # healthy -> +5
                ("floor", 10, 10),  # halving clamps at min_budget
                ("ceil", 100, 0),  # increase clamps at max_budget
            ],
            "host string, n_fetched int, n_errors int",
        )
        out = {
            r["host"]: r["budget"]
            for r in adaptive_budget_round(budgets, stats).collect()
        }
        assert out == {
            "hot": 50,
            "ok": 105,
            "idle": 100,  # no traffic -> unchanged
            "floor": 1,
            "ceil": 500,
        }


class TestRegistrableDomain:
    def test_psl_cases(self, spark):
        hosts = [
            ("www.example.com", "example.com"),
            ("a.b.example.co.uk", "example.co.uk"),
            ("deep.sub.pages.github.io", "pages.github.io"),
            ("example.com", "example.com"),
            ("host.internal", "host.internal"),  # unknown TLD: fallback
            ("com", "com"),  # bare suffix: fallback to itself
            # wildcard rule '*.ck': every <label>.ck is a public suffix,
            # so the PLD is one label deeper
            ("a.b.ck", "a.b.ck"),
            ("deep.a.b.ck", "a.b.ck"),
            ("b.ck", "b.ck"),  # host IS a wildcard suffix: fallback
            # exception rule '!www.ck' prevails over the wildcard:
            # www.ck is registrable itself
            ("www.ck", "www.ck"),
            ("x.www.ck", "www.ck"),
            ("ck", "ck"),  # bare wildcard base: fallback
        ]
        df = _df(spark, [(h,) for h, _ in hosts], "host string").withColumn(
            "pld", registrable_domain(F.col("host"))
        )
        got = {r["host"]: r["pld"] for r in df.collect()}
        assert got == dict(hosts)

    def test_explicit_rule_longer_than_wildcard_prevails(self, spark):
        # PSL: the prevailing non-exception rule is the LONGEST match
        # ACROSS rule classes. Explicit 'y.x.ck' (3 labels) must beat
        # wildcard '*.ck' (effective 2 labels) for hosts under y.x.ck;
        # hosts under any other <label>.ck still take the wildcard.
        hosts = [
            ("a.y.x.ck", "a.y.x.ck"),  # explicit suffix y.x.ck + 1 label
            ("deep.a.y.x.ck", "a.y.x.ck"),
            ("y.x.ck", "y.x.ck"),  # host IS the explicit suffix: fallback
            ("a.b.ck", "a.b.ck"),  # wildcard still governs other bases
            ("deep.a.b.ck", "a.b.ck"),
        ]
        df = _df(spark, [(h,) for h, _ in hosts], "host string").withColumn(
            "pld",
            registrable_domain(
                F.col("host"),
                suffixes=("com", "y.x.ck"),
                wildcards=("ck",),
                exceptions=("www.ck",),
            ),
        )
        got = {r["host"]: r["pld"] for r in df.collect()}
        assert got == dict(hosts)
