"""Stateful streaming operator: gap-based sessionization.

The batch twin is the ``events_sessions`` driver query (30-min-inactivity
sessions via window functions). A live pipeline can't window over "all
events ever" — per-user session state must live in the streaming state
store and be finalized incrementally. Spark's ``session_window`` does
exactly that inside the JVM: each event opens a window ``[t, t + gap)``,
overlapping windows of one user merge in the state store, and the
aggregate is min/max/count/sum over the merged session.

Semantics:

* an event joins a session when it lies at most ``gap`` after the
  session's last event (``<= last + gap``), the batch twin's ``gap > G``
  split rule;
* a session is EMITTED (append mode) only once the watermark passes its
  last event + ``gap``. Every row the watermark still admits is later than
  that point, so no admitted row can extend or bridge an emitted session,
  whatever the watermark delay;
* until then, late events (above the watermark — Spark drops the rest)
  merge into whichever held session they reach, and can join two held
  sessions, as the batch twin's full ordering would. Idle users' sessions
  close once the watermark passes them.

A checkpoint written by the earlier ``applyInPandasWithState`` operator
does not resume under this one; restart such a stream from a new
checkpoint.

Reference tie-in: the reference has no streaming at all (it bulk-loads
finished simulation output, ``base_simulation_loader.py:50-63``); this
extends the engine the same way ``streaming/windows.py`` does, as the
live twin of a batch contract query.
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
        T.StructField("value", T.DoubleType(), True),
    ]
)


def sessionize_stream(
    spark: SparkSession,
    input_dir: str,
    gap_seconds: float = 1800.0,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """readStream over an event directory -> closed-session stream:
    ``(user_id, session_start, session_end, n_events, sum_value)``.

    Equals the batch gap-sessionization of the rows the watermark admits,
    for any ``watermark_delay``: a session is emitted only once the
    watermark is past its last event + gap, and rows below the watermark
    are the only ones Spark drops. A malformed or negative
    ``watermark_delay`` raises here, at call time.
    """
    # the gap in whole microseconds: session_window merges an event at
    # exactly last + gap into the session, as the batch twin does
    gap = f"{round(gap_seconds * 1e6)} microseconds"
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(input_dir)
        .withWatermark("event_time", watermark_delay)
        .groupBy(F.session_window("event_time", gap), "user_id")
        .agg(
            F.min("event_time").alias("session_start"),
            F.max("event_time").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    )


def run_sessions_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap_seconds: float = 1800.0,
    watermark_delay: str = "10 minutes",
):
    """Drain available events into finalized-session parquet (append mode);
    re-invoking resumes from the checkpoint like the other streaming sinks."""
    sessions = sessionize_stream(spark, input_dir, gap_seconds, watermark_delay)
    return drain_to_parquet(sessions, output_dir, checkpoint_dir)
