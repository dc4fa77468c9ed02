"""Streaming deduplication for at-least-once sources.

A live document/event feed redelivers on retry; exact dedup must happen
before triples are minted or counts are wrong. Batch dedup
(``operators/dedup.py``) cannot run on an unbounded stream — the state
would grow forever — so this uses Spark's
``dropDuplicatesWithinWatermark``: one state entry per key, reaped once
the watermark passes the key's first-seen event time plus the delay.

Guarantee (standard Spark semantics): a duplicate arriving within
``watermark_delay`` of the first occurrence is ALWAYS dropped; a
duplicate arriving later than the watermark may pass (its state was
reaped) — the bounded-state trade-off every exactly-once-ish streaming
dedup makes. Downstream sinks that need hard exactness layer the batch
exact dedup over the (already almost-clean) materialized table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import drain_to_parquet

DELIVERY_SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.TimestampType(), True),
        T.StructField("delivery_key", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),
    ]
)


def dedup_stream(
    spark: SparkSession,
    input_dir: str,
    key_cols: list[str] | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """readStream over a delivery directory -> first-delivery-only stream."""
    stream = spark.readStream.schema(DELIVERY_SCHEMA).parquet(input_dir)
    return stream.withWatermark("event_time", watermark_delay).dropDuplicatesWithinWatermark(
        key_cols or ["delivery_key"]
    )


def run_dedup_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] | None = None,
    watermark_delay: str = "10 minutes",
):
    """Drain available deliveries into deduplicated parquet (append mode);
    re-invoking resumes from the checkpoint."""
    deduped = dedup_stream(
        spark, input_dir, key_cols=key_cols, watermark_delay=watermark_delay
    )
    return drain_to_parquet(deduped, output_dir, checkpoint_dir)
