"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one full crawl round (canonicalize → robots → salted
    politeness top-k → fetch join → Arrow-UDF text extraction) over a
    pages corpus derived from the sf0.001 ``documents`` table
    (FIXTURES.md §A: documents stands in for the page corpus). Returns the
    round's 80 scheduled rows in ``seq`` order as a local DataFrame and
    releases every cache the round persisted."""
    from opps_feedcrawler_spark.plans.crawl import (
        crawl_round,
        prepare_pages,
        seeds_to_frontier,
    )
    from opps_feedcrawler_spark.sources.synth import pages_from_documents

    pages = pages_from_documents(spark, SF0001)
    pages_prepared = prepare_pages(pages)
    seeds = pages.select("url").orderBy("url").limit(200)
    robots = spark.createDataFrame(
        [(f"src{i}.example", 1.0, [{"allow": False, "prefix": "/doc/9"}]) for i in range(20)],
        schema="host string, crawl_delay double, "
        "rules array<struct<allow:boolean,prefix:string>>",
    )
    frontier = seeds_to_frontier(seeds)
    seen = spark.createDataFrame([], "url_norm string, url_hash long")
    out = crawl_round(
        spark, frontier, seen, None, pages_prepared, robots, round_no=0
    )
    sched = out["schedule"]  # frontier is built lazily via out["build_frontier"]
    text = out["text"]
    df = (
        sched.join(text, sched.url_norm == text.url, "left")
        .select(
            "round",
            "seq",
            "url_norm",
            "host",
            "priority",
            F.length("text").alias("text_len"),
        )
        .orderBy("seq")
    )
    # The round's caches live until cleanup(), so collect the (small)
    # schedule first and hand back a local DataFrame that needs none of them.
    try:
        rows = df.collect()
    finally:
        out["cleanup"]()
    return spark.createDataFrame(rows, df.schema)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (crawl-plane
    and training-data-pipeline operators)."""
    from opps_feedcrawler_spark.plans.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted keys → rows-only check)."""
    from opps_feedcrawler_spark.plans.queries import ORACLE_SQL
    from opps_feedcrawler_spark.sources import fixtures

    # The multimodal_* oracle SQL reads these parquet fixtures, and the
    # driver may run an oracle before its query callable (which writes its
    # own fixture too).
    fixtures.ensure_png_fixture()
    fixtures.ensure_png_palette_fixture()
    fixtures.ensure_png16_fixture()
    fixtures.ensure_jpeg_fixture()
    fixtures.ensure_jpeg_exif_fixture()
    fixtures.ensure_gif_fixture()
    fixtures.ensure_gif_anim_fixture()
    return dict(ORACLE_SQL)
