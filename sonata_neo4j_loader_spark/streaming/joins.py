"""Stream-stream interval join: attribute purchases to preceding clicks.

The missing piece next to the engine's windowed-agg / sessionization /
dedup streams: joining TWO live streams. Structured Streaming's
stream-stream inner join buffers both sides in the state store; the two
ingredients that keep that state bounded at 10^12 events are exactly what
this module pins down:

* **watermarks on both sides** — state older than the watermark is
  evicted;
* **a time-range join condition** (``click_time < purchase_time <=
  click_time + window``) — tells the engine how long a click can still
  match a future purchase, so clicks age out ``window`` after their
  watermark instead of accumulating forever.

Inner-join rows are emitted eagerly as both sides arrive (no
watermark-close wait, unlike append-mode aggregations), so an
``availableNow`` drain over a bounded input emits exactly the batch
join's rows — which is what the driver oracle adjudicates.

No counterpart in the reference (single-process pandas joins complete
frames ≙ data_extraction.py merges); semantics follow the standard
click-attribution report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import drain_to_parquet

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_id", T.LongType(), True),
    ]
)


def attribution_stream(
    spark: SparkSession,
    clicks_dir: str,
    purchases_dir: str,
    window: str = "3 hours",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """clicks ⋈ purchases on user within ``(click, click + window]``.

    Returns the unstarted streaming DataFrame: one row per qualifying
    (click, purchase) pair — a purchase may attribute to several clicks
    and vice versa (the exhaustive pair report; first-touch reductions
    are a downstream agg). ``watermark_delay`` bounds cross-stream
    disorder: a purchase arriving more than ``delay`` behind the click
    stream's watermark may be dropped from state — at-most-late-by-delay,
    the standard streaming contract.
    """
    clicks = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(clicks_dir)
        .select(
            F.col("event_time").alias("click_time"),
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_time", watermark_delay)
    )
    purchases = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(purchases_dir)
        .select(
            F.col("event_time").alias("purchase_time"),
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_time", watermark_delay)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_time") > F.col("click_time"))
        & (
            F.col("purchase_time")
            <= F.col("click_time") + F.expr(f"INTERVAL {window}")
        ),
        "inner",
    ).select("user_id", "click_id", "purchase_id", "click_time", "purchase_time")


def run_attribution_to_parquet(
    spark: SparkSession,
    clicks_dir: str,
    purchases_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "3 hours",
    watermark_delay: str = "0 seconds",
):
    """availableNow drain of the attribution join to a parquet sink.

    Inner stream-stream joins emit eagerly, so append mode needs no
    sentinel flush (unlike the windowed-agg drains). Re-invoking resumes
    from the checkpoint.
    """
    joined = attribution_stream(
        spark, clicks_dir, purchases_dir, window, watermark_delay
    )
    return drain_to_parquet(joined, output_dir, checkpoint_dir)
