"""Streaming dedup: first-seen (host, content) filtering.

The "keep up with the crawl" companion to the batch dedup ops: as page
batches stream in, only documents whose (host, fingerprint) pair has
not been seen before pass through.  The seen set lives in Spark's
native per-key state store — one O(1) state row per fingerprint,
RocksDB-backed at cluster scale — and survives query restarts via the
stream checkpoint, so a killed ingest resumes without re-emitting (or
losing) documents: the stateful analog of the batch
CheckpointedWriter's idempotent commits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def stream_dedup_native(pages: DataFrame, watermark=None) -> DataFrame:
    """Exact streaming dedup on Spark's native per-key state store:
    ``dropDuplicates`` on (host, fp), fingerprint = md5 of the page
    bytes, one O(1) state row per fingerprint.

    ``watermark=("ts", "7 days")`` switches to
    ``dropDuplicatesWithinWatermark`` so fingerprint state is evicted
    once the event-time horizon passes — bounded state for unbounded
    streams."""
    keyed = pages.select(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        "url",
        F.md5(F.col("html")).alias("fp"),
        *([F.col(watermark[0])] if watermark else []),
    )
    if watermark is not None:
        col, delay = watermark
        return keyed.withWatermark(col, delay).dropDuplicatesWithinWatermark(
            ["host", "fp"]
        ).drop(col)
    return keyed.dropDuplicates(["host", "fp"])
