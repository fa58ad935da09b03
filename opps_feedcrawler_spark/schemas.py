"""Fixed StructType schemas for the engine's input and output tables
(SURVEY.md §1.2).

Schema-first by design: the reference relies on ORM migrations (behavior-level,
SURVEY.md §1.1 [PK]); this engine declares its input and extraction shapes
here. The frontier, seen-delta and bloom tables are not declared here: their
shape is whatever the round's plan writes, and each snapshot manifest
records every table's schema as written (plans/checkpoint.SnapshotLog.
write_table), which is what every later read of the table uses. The
frontier is written as (url_norm, depth) and the seen delta as url_norm;
their manifests also record host, url_hash, salt and priority as SQL over
those (checkpoint.DERIVED_COLUMNS), which every read re-derives, so a
loaded frontier is (url_norm, host, url_hash, salt, depth, priority) and a
loaded seen set (url_norm, url_hash). Shapes bound by BASELINE.json:6
(north_star) and BASELINE.json:16 (input_hint: pages table is exactly
(url string, warc_ts timestamp, html binary, text string, lang string)).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Input corpus — BASELINE.json:16, exact shape.
# ---------------------------------------------------------------------------
PAGES = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

SEEDS = StructType([StructField("url", StringType())])

ROBOTS = StructType(
    [
        StructField("host", StringType()),
        StructField("crawl_delay", DoubleType()),
        StructField(
            "rules",
            ArrayType(
                StructType(
                    [
                        StructField("allow", BooleanType()),
                        StructField("prefix", StringType()),
                    ]
                )
            ),
        ),
    ]
)

SCHEDULE = StructType(
    [
        StructField("round", IntegerType()),
        StructField("seq", IntegerType()),
        StructField("url_norm", StringType()),
        StructField("host", StringType()),
        StructField("priority", DoubleType()),
        StructField("depth", IntegerType()),
    ]
)

FETCH_LOG = StructType(
    [
        StructField("round", IntegerType()),
        StructField("url_norm", StringType()),
        StructField("host", StringType()),
        StructField("status", IntegerType()),  # 200 hit / 404 miss / 999 robots
        StructField("bytes", LongType()),
    ]
)

ENTRY = StructType(
    [
        StructField("page_url", StringType()),
        StructField("entry_guid", StringType()),
        StructField("title", StringType()),
        StructField("link", StringType()),
        StructField("published_ts", TimestampType()),
        StructField("summary", StringType()),
    ]
)

ENTRY_STRUCT = StructType(
    [
        StructField("entry_guid", StringType()),
        StructField("title", StringType()),
        StructField("link", StringType()),
        StructField("published_ts", TimestampType()),
        StructField("summary", StringType()),
    ]
)

EXTRACTED_TEXT = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
    ]
)
