"""Stateful streaming sessionization: gap-close, watermark-close, state reap.

Three drains over a growing event directory prove the contract:
1. a session is emitted once the watermark passes its last event + gap,
   so no row the watermark still admits can bridge that gap — within one
   batch or across batches;
2. an open session survives in the state store across drains;
3. the watermark passing last_event + gap finalizes an open session with
   no further events from its user — idle-user state is reaped.
"""

from __future__ import annotations

from datetime import datetime

from sonata_neo4j_loader_spark.streaming import sessions as S

T0 = datetime(2024, 1, 1, 0, 0, 0)


def _write(spark, path, rows):
    spark.createDataFrame(rows, S.EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _drain(spark, src, out, ckpt):
    S.run_sessions_to_parquet(
        spark, src, out, ckpt, gap_seconds=600.0, watermark_delay="5 minutes"
    )
    try:
        return sorted(
            (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
            for r in spark.read.parquet(out).collect()
        )
    except Exception:  # sink not created yet (nothing finalized)
        return []


def ts(minute, hour=0):
    return T0.replace(hour=hour, minute=minute)


def test_stream_matches_batch_sessionization(spark, tmp_path):
    """The stateful stream must reproduce the batch ``events_sessions``
    semantics on REAL data: same 1800 s gap rule, same per-session counts
    and sums. A far-future sentinel event per user flushes every real
    session out of the state store; sentinel-only sessions are excluded
    from the comparison."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    src = str(tmp_path / "events")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .where(F.col("user_id") < 10)
        .select(F.col("ts").cast("timestamp").alias("event_time"), "user_id", "value")
    )
    sentinels = ev.groupBy("user_id").agg(
        (F.max("event_time") + F.expr("INTERVAL 30 DAYS")).alias("event_time")
    ).select("event_time", "user_id", F.lit(-1.0).alias("value"))
    ev.unionByName(sentinels).coalesce(1).write.mode("append").parquet(src)
    S.run_sessions_to_parquet(
        spark, src, out, ckpt, gap_seconds=1800.0, watermark_delay="0 seconds"
    )
    streamed = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, round(r.sum_value, 4))
        for r in spark.read.parquet(out).collect()
        if r.sum_value != -1.0  # sentinel flush sessions
    }

    # independent batch twin (the events_sessions query shape + start/end)
    w = Window.partitionBy("user_id").orderBy("event_time")
    prev = F.lag("event_time").over(w)
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, event_time)")
    sess = (
        ev.withColumn("prev_ts", prev)
        .withColumn(
            "new_s",
            F.when(F.col("prev_ts").isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("event_time").alias("session_start"),
            F.max("event_time").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    batch = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, round(r.sum_value, 4))
        for r in sess.collect()
    }
    assert streamed == batch
    assert len(batch) > 10  # the comparison is over real, non-trivial data


def test_late_event_merges_without_shrinking_session(spark, tmp_path):
    """A tolerated-late event that sorts BEFORE the open session's last
    event must merge without regressing the session's end or its gap
    anchor: the split decision and session_end use max(state.last, batch
    rows), exactly as the batch twin's full ordering would."""
    src = str(tmp_path / "events")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: open session (00:00, 00:05), n=2
    _write(spark, src, [(ts(0), 7, 1.0), (ts(5), 7, 2.0)])
    assert _drain(spark, src, out, ckpt) == []

    # batch 2: late row 00:02 (above watermark) + 00:35. Full ordering is
    # 00:00,00:02,00:05,00:35 -> session1 = [00:00..00:05] n=3 (00:35 is
    # 30 min after 00:05 > 10 min gap), session2 = open at 00:35. A naive
    # batch-only diff would close session1 at 00:02 and lose the 00:05 end.
    _write(spark, src, [(ts(2), 7, 4.0), (ts(35), 7, 8.0)])
    got = _drain(spark, src, out, ckpt)
    assert got == [(7, ts(0), ts(5), 3, 7.0)]


def test_late_event_bridges_a_gap_closed_session(spark, tmp_path):
    """A later event more than a gap away does not prove a session closed:
    a tolerated-late row can still land in the gap and join the two, as
    the batch ordering does. Batch 1 holds 00:00 and 00:11 (11 min > the
    10 min gap); the late 00:07 (above the 00:06 watermark) bridges them."""
    src = str(tmp_path / "events")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")

    _write(spark, src, [(ts(0), 7, 1.0), (ts(11), 7, 2.0)])
    assert _drain(spark, src, out, ckpt) == []

    _write(spark, src, [(ts(7), 7, 4.0), (ts(40), 7, 8.0)])
    assert _drain(spark, src, out, ckpt) == [(7, ts(0), ts(11), 3, 7.0)]


def test_gap_and_timeout_sessionization(spark, tmp_path):
    src = str(tmp_path / "events")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")

    # batch 1, user 7: two events 2 min apart, then one 18 min later —
    # the watermark (00:15) passes the first session's last + gap (00:12);
    # the third event stays open in state
    _write(spark, src, [(ts(0), 7, 1.0), (ts(2), 7, 2.0), (ts(20), 7, 3.0)])
    got = _drain(spark, src, out, ckpt)
    assert got == [(7, ts(0), ts(2), 2, 3.0)]

    # batch 2: an event 30 min after the open session moves the watermark
    # (00:45) past it (cross-batch close via state), and itself becomes the
    # open session
    _write(spark, src, [(ts(50), 7, 4.0)])
    got = _drain(spark, src, out, ckpt)
    assert got == [
        (7, ts(0), ts(2), 2, 3.0),
        (7, ts(20), ts(20), 1, 3.0),
    ]

    # batch 3: only an unrelated user arrives, far in the future — the
    # watermark passes 00:50 + gap, so user 7's open session finalizes
    # with no further events of its own and its state is removed
    _write(spark, src, [(ts(40, hour=1), 9, 9.0)])
    got = _drain(spark, src, out, ckpt)
    assert (7, ts(50), ts(50), 1, 4.0) in got
    # user 9's session is still open (nothing after it) — not emitted
    assert not any(u == 9 for u, *_ in got)


def test_event_exactly_one_gap_after_the_last_joins_the_session(spark, tmp_path):
    """The batch twin splits on ``gap > G``: an event exactly G after the
    session's last event joins it, one microsecond more starts a new one.
    So 00:00, 00:10 (exactly the 10 min gap) are one session, and
    00:20:00.000001 (G + 1 us after 00:10, 2G + 1 us after the start)
    opens the next. User 9's far-future event moves the watermark past
    both."""
    src = str(tmp_path / "events")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")

    late = ts(20).replace(microsecond=1)
    _write(
        spark,
        src,
        [(ts(0), 7, 1.0), (ts(10), 7, 2.0), (late, 7, 4.0), (ts(0, hour=3), 9, 9.0)],
    )
    assert _drain(spark, src, out, ckpt) == [
        (7, ts(0), ts(10), 2, 3.0),
        (7, late, late, 1, 4.0),
    ]


def _watermark_delay(df):
    """The delay of the stream's event-time watermark, as Spark parsed it."""
    plan = df._jdf.queryExecution().logical().toString()
    line = next(ln for ln in plan.splitlines() if "EventTimeWatermark" in ln)
    return line.rsplit(", ", 1)[1]


def test_delay_seconds_parses_spark_interval_forms(spark, tmp_path):
    """Spark parses the delay when the stream is defined; each interval
    form it accepts lands on the watermark with its amount intact."""
    src = str(tmp_path)
    for delay, parsed in (
        ("10 minutes", "10 minutes"),
        ("interval 10 minutes", "10 minutes"),
        ("1 hour 30 minutes", "1 hours 30 minutes"),
        ("interval 1 hour 30 minutes", "1 hours 30 minutes"),
        ("500 milliseconds", "0.5 seconds"),
    ):
        df = S.sessionize_stream(spark, src, 600.0, delay)
        assert df.isStreaming
        assert _watermark_delay(df) == parsed


def test_delay_seconds_rejects_bad_spellings_and_negatives(spark, tmp_path):
    """A malformed or negative delay fails at call time, before any query
    starts."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException, IllegalArgumentException

    src = str(tmp_path)
    for bad in ("10 fortnights", "minutes", "10 minutess", "nan minutes"):
        with _pytest.raises(AnalysisException, match="CANNOT_PARSE_INTERVAL"):
            S.sessionize_stream(spark, src, 600.0, bad)
    with _pytest.raises(IllegalArgumentException, match="should not be negative"):
        S.sessionize_stream(spark, src, 600.0, "-10 minutes")
