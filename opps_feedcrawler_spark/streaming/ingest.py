"""Structured Streaming ingestion variant (B27-B31) — OFF the verified crawl
path by design: micro-batch boundaries are wall-clock dependent, which would
break the bit-for-bit resume contract (SURVEY.md §4.3; BASELINE.json:6).
The batch round driver is the engine; this module exists for deployments
that want continuous page/event ingestion with watermarked late-data
handling feeding the same Parquet layout the batch rounds read.

Tested with trigger(availableNow=True) so the pipeline is exercised
deterministically in CI without wall-clock coupling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_page_events(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """File-source stream of page-fetch events with bounded lateness:
    readStream → withWatermark → stateful dedup on url within the watermark
    (B31) → tumbling per-host fetch counts (B27 + B30)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )
    return (
        deduped.groupBy(F.window("ts", "1 hour").alias("w"), "host")
        .agg(F.count(F.lit(1)).alias("n_fetched"))
        .select(F.col("w.start").alias("window_start"), "host", "n_fetched")
    )


def run_available_now(result: DataFrame, out_dir: str, checkpoint_dir: str) -> None:
    """Drain everything currently available, then stop — the deterministic
    test/maintenance trigger. Continuous deploys use processingTime."""
    q = (
        result.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stateful_host_rate(
    stream: DataFrame, min_gap_s: float = 1.0
) -> DataFrame:
    """Custom stateful streaming operator (B-surface: arbitrary state via
    ``applyInPandasWithState``): per-host fetch-rate tracking with
    politeness-violation detection. State per host = (total fetches,
    violations, last fetch epoch); each micro-batch APPENDS a row with the
    host's cumulative counts (append emission composes with file sinks;
    the latest row per host is the current total). A "violation" is a fetch arriving < min_gap_s after
    the previous one for the same host — the runtime self-audit of the
    scheduler-side politeness guarantee (A9), maintained ACROSS batches
    (the cross-batch gap is checked against the carried state, which
    ``dropDuplicates``-style built-ins cannot express).

    Arrow-batched: the per-batch gap scan is one numpy diff over the
    host's sorted timestamps, no per-row Python."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdfs, state: GroupState):
        host = key[0]
        if state.exists:
            total, violations, last_epoch = state.get
        else:
            total, violations, last_epoch = 0, 0, None
        batch_parts = [pdf for pdf in pdfs]
        if batch_parts:
            ts = (
                pd.concat(batch_parts)["ts"]
                .sort_values()
                .astype("int64")
                .to_numpy()
                / 1e9
            )
            prev = np.r_[(last_epoch if last_epoch is not None else -np.inf), ts]
            gaps = np.diff(prev)
            violations += int((gaps < min_gap_s).sum())
            total += len(ts)
            last_epoch = float(ts[-1])
        state.update((total, violations, last_epoch))
        yield pd.DataFrame(
            {
                "host": [host],
                "n_fetched": [total],
                "n_violations": [violations],
            }
        )

    return stream.groupBy("host").applyInPandasWithState(
        track,
        outputStructType="host string, n_fetched long, n_violations long",
        stateStructType="total long, violations long, last_epoch double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_seed_ingest(spark: SparkSession, seed_dir: str) -> DataFrame:
    """Continuous frontier feeding: a text-file stream of raw seed URLs
    (one per line — the drop-files-in-a-bucket integration every crawl
    operation grows) is canonicalized with the SAME A2-A4 kernel the
    batch rounds use (with_url_cols: RFC 3986 normalize, xxhash64,
    host + salt) and deduplicated on url_norm with streaming state, so a
    URL enters the frontier exactly once across ALL micro-batches and
    restarts (checkpointed dedup state + file-source exactly-once give
    end-to-end no-redelivery into the sink).

    Scale note: unbounded dropDuplicates state is the streaming
    equivalent of the exact seen set and is the right tool at seed-feed
    rates (operations feed thousands of seeds, not billions); the
    crawl's own 10^10-URL dedup stays on the batch bloom path
    (operators/seen.py), which this stream FEEDS, not replaces."""
    from ..functions.urlnorm import with_url_cols

    raw = spark.readStream.format("text").load(seed_dir)
    cand = (
        raw.select(F.trim(F.col("value")).alias("url"))
        .filter(F.length("url") > 0)
        .filter(~F.col("url").startswith("#"))  # comment lines
    )
    return with_url_cols(cand, "url").select(
        "url_norm", "host", "url_hash", "salt"
    ).dropDuplicates(["url_norm"])
