"""Event-time windowed spike-rate stream with watermarked late-data handling.

The reference's simulation loaders read complete spike files after the run
finishes (``base_simulation_loader.py:50-63``); a live pipeline instead sees
spike events arriving out of order. This is the Structured-Streaming twin
of the batch ``spike_rate_by_neuron`` driver query: tumbling event-time
windows per neuron, with a watermark bounding how late a spike may arrive
and still be counted — the state store can then discard windows older than
the watermark instead of growing forever (the property that matters at
10^12 events).

Semantics (standard Spark watermarking):

* a spike with event time T updates the window containing T as long as the
  current watermark (max seen event time − delay) has not passed the
  window's end;
* once the watermark passes a window's end, the window's aggregate is
  final: in append output mode it is emitted exactly once, and later
  spikes for it are dropped (counted nowhere) — deterministic given the
  same file/trigger sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import drain_to_parquet

SPIKE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.TimestampType(), True),
        T.StructField("neuron_id", T.LongType(), True),
    ]
)


def spike_rate_stream(
    spark: SparkSession,
    input_dir: str,
    window_duration: str = "10 minutes",
    watermark_delay: str = "5 minutes",
) -> DataFrame:
    """readStream over a spike-event directory -> windowed per-neuron counts.

    Returns the unstarted streaming DataFrame; callers attach a sink (see
    :func:`run_spike_rate_to_parquet` for the availableNow file-sink
    variant used by tests and batch-drain jobs).
    """
    stream = spark.readStream.schema(SPIKE_EVENT_SCHEMA).parquet(input_dir)
    return (
        stream.withWatermark("event_time", watermark_delay)
        .groupBy(
            F.window("event_time", window_duration).alias("w"),
            "neuron_id",
        )
        .agg(F.count(F.lit(1)).alias("n_spikes"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "neuron_id",
            "n_spikes",
        )
    )


def run_spike_rate_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window_duration: str = "10 minutes",
    watermark_delay: str = "5 minutes",
):
    """Drain available spike files into finalized-window parquet (append
    mode: a window row is written exactly once, after the watermark passes
    its end). Re-invoking resumes from the streaming checkpoint, mirroring
    the batch sink's manifest resume."""
    agg = spike_rate_stream(spark, input_dir, window_duration, watermark_delay)
    return drain_to_parquet(agg, output_dir, checkpoint_dir)
