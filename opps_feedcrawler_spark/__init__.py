"""opps_feedcrawler_spark — a from-scratch PySpark-native web-crawl /
feed-extraction analytics engine with the capabilities of the reference
``opps/opps-feedcrawler`` (fetch-parse-normalize loop), rebuilt Spark-first
at web scale per BASELINE.json (north_rule / north_star / input_hint).

Provenance note (SURVEY.md §0): /root/reference was empty at survey time;
behavior-level parity claims cite BASELINE.json lines instead of reference
file:line. No code herein is copied from any reference tree.

Layout
------
- ``session``    SparkSession factory (UTC, Arrow, AQE, pinned shuffle parts)
- ``schemas``    all fixed StructType schemas (schema-first, no ORM)
- ``functions``  vectorized URL/HTML/feed/text functions (pandas UDFs + native)
- ``operators``  seen-filter, politeness, robots, dedup, similarity
- ``sources``    deterministic synthetic corpus generator + readers
- ``plans``      crawl-round driver, checkpoint/resume, the engine's query registry
- ``streaming``  optional Structured Streaming ingestion variant
"""

__version__ = "0.1.0"
