"""Plans: the deterministic crawl-round driver, Iceberg-style snapshot
checkpointing, and the engine's query registry (queries.py: crawl-plane
and operator entries with their DuckDB oracle SQL)."""
