"""Custom stateful streaming operator: gap-based sessionization.

The batch twin is the ``events_sessions`` driver query (30-min-inactivity
sessions via window functions). A live pipeline can't window over "all
events ever" — per-user session state must live in the streaming state
store and be finalized incrementally. Spark has no built-in gap-session
aggregate with this output shape, so this is the designed use case for
``applyInPandasWithState``: grouped Arrow batches + explicit per-group
state + event-time timeouts.

Semantics:

* events are folded per user in event-time order; a gap > ``gap`` closes
  the current session;
* a session is EMITTED (append mode) only when it is provably closed: no
  row the watermark still admits can reach it. A later event > gap after
  it is not enough on its own — a tolerated-late row can land in the gap
  and bridge the two — so the session is held until the user's latest
  event minus the watermark delay, or the event-time timeout (watermark
  past ``last_event + gap``), is beyond ``last_event + gap``;
* the trailing open session is held in the state store with an event-time
  timeout, plus at most one gap-closed session still waiting to be
  provably closed (with ``delay <= gap`` a second one is always already
  past the bound), so state is bounded and idle users' state is reaped by
  the timeout;
* late events (above the watermark — Spark drops the rest before the
  operator) merge into whichever held session they reach (its start moves
  back if needed, and they can join two held sessions), mirroring what
  the batch twin's full-ordering window would have produced.

The per-batch kernel is vectorized (numpy ``reduceat`` over gap-split
segments) — no per-row Python beyond the segment bookkeeping, which is
O(sessions), not O(events).

Reference tie-in: the reference has no streaming at all (it bulk-loads
finished simulation output, ``base_simulation_loader.py:50-63``); this
extends the engine the same way ``streaming/windows.py`` does, as the
live twin of a batch contract query.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from . import drain_to_parquet

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("session_start", T.TimestampType(), True),
        T.StructField("session_end", T.TimestampType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("sum_value", T.DoubleType(), True),
    ]
)

# held sessions, each (start_ns, last_ns, n_events, sum_value): the open
# session, then the gap-closed one not yet provably closed (null if none).
# A checkpoint holding the earlier open-session-only state does not resume
# under this schema; restart such a stream from a new checkpoint.
STATE_SCHEMA = T.StructType(
    [
        T.StructField(f"{prefix}{name}", kind, True)
        for prefix in ("", "p_")
        for name, kind in (
            ("start_ns", T.LongType()),
            ("last_ns", T.LongType()),
            ("n_events", T.LongType()),
            ("sum_value", T.DoubleType()),
        )
    ]
)

_NS = 1_000_000_000


def _session_frame(user: int, rows: list[tuple[int, int, int, float]]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": pd.array([user] * len(rows), dtype="int64"),
            "session_start": pd.to_datetime([r[0] for r in rows], unit="ns"),
            "session_end": pd.to_datetime([r[1] for r in rows], unit="ns"),
            "n_events": pd.array([r[2] for r in rows], dtype="int64"),
            "sum_value": pd.array([r[3] for r in rows], dtype="float64"),
        }
    )


def make_sessionizer(gap_seconds: float, delay_seconds: float):
    """Build the per-group stateful kernel for ``applyInPandasWithState``."""
    gap_ns = int(gap_seconds * _NS)
    delay_ns = int(delay_seconds * _NS)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user = key[0]
        held = []
        if state.exists:
            st = state.get
            held = [tuple(st[4:]), tuple(st[:4])] if st[4] is not None else [tuple(st[:4])]
        wm_ns = state.getCurrentWatermarkMs() * 1_000_000

        if state.hasTimedOut:
            # watermark passed the earliest held session's last_event + gap
            closed = [h for h in held if h[1] + gap_ns < wm_ns]
            held = held[len(closed):]
        else:
            ev = pd.concat(list(pdfs))
            ts = ev["event_time"].to_numpy(dtype="datetime64[ns]").astype("int64")
            # held sessions join the batch as items spanning [start, last]:
            # a session is a chain of events within gap of each other, so
            # splitting the start-sorted items wherever a start lies > gap
            # past every earlier item's last is the batch twin's split
            # (explicit dtypes: an empty held list would make numpy promote
            # the int64 nanoseconds to float64 and lose precision)
            def col(i: int, batch: np.ndarray) -> np.ndarray:
                return np.concatenate((np.array([h[i] for h in held], batch.dtype), batch))

            starts = col(0, ts)
            order = np.argsort(starts, kind="mergesort")
            starts = starts[order]
            lasts = col(1, ts)[order]
            counts = col(2, np.ones(len(ts), "int64"))[order]
            sums = col(3, ev["value"].to_numpy(dtype="float64"))[order]
            run_last = np.maximum.accumulate(lasts)
            seg_starts = np.concatenate(([0], np.flatnonzero(starts[1:] - run_last[:-1] > gap_ns) + 1))
            seg_ends = np.concatenate((seg_starts[1:], [len(starts)])) - 1
            sessions = list(
                zip(
                    starts[seg_starts].tolist(),
                    run_last[seg_ends].tolist(),
                    np.add.reduceat(counts, seg_starts).tolist(),
                    np.add.reduceat(sums, seg_starts).tolist(),
                )
            )
            # every row still to come is >= the user's latest event - delay;
            # with delay <= gap (sessionize_stream's precondition) at most
            # one gap-closed session stays within reach of such a row
            bound = int(run_last[-1]) - delay_ns
            closed = [x for x in sessions[:-1] if x[1] + gap_ns < bound]
            held = sessions[len(closed):]

        if held:
            pending = held[0] if len(held) == 2 else (None,) * 4
            state.update(tuple(held[-1]) + tuple(pending))
            # event-time timeout at the earliest held last + gap; must stay
            # above the watermark
            state.setTimeoutTimestamp(
                max(held[0][1] // 1_000_000 + int(gap_seconds * 1000), wm_ns // 1_000_000 + 1)
            )
        else:
            state.remove()
        if closed:
            yield _session_frame(user, closed)

    return fn


_DELAY_UNITS = {
    "microsecond": 1e-6, "millisecond": 1e-3, "second": 1.0,
    "minute": 60.0, "hour": 3600.0, "day": 86400.0, "week": 604800.0,
}


def _delay_seconds(delay: str) -> float:
    """Parse a Spark watermark-delay interval string to seconds.

    Accepts the forms Spark's ``withWatermark`` does: an optional leading
    ``interval`` keyword and one or more ``<number> <unit>`` pairs, e.g.
    ``'10 minutes'``, ``'interval 10 minutes'``, ``'1 hour 30 minutes'``.
    """
    toks = delay.strip().lower().split()
    if toks and toks[0] == "interval":
        toks = toks[1:]
    if not toks or len(toks) % 2 != 0:
        raise ValueError(
            f"unsupported watermark delay {delay!r}: expected "
            "'[interval] <n> <unit> [<n> <unit> ...]' with units "
            f"{sorted(_DELAY_UNITS)} (e.g. '10 minutes', '1 hour 30 minutes')"
        )
    total = 0.0
    for n, unit in zip(toks[::2], toks[1::2]):
        # exact singular or plural only: rstrip('s') would also accept
        # spellings Spark rejects ('minutess') — fail here, not at
        # stream start
        base = unit[:-1] if unit.endswith("s") and unit[:-1] in _DELAY_UNITS else unit
        try:
            value = float(n)
        except ValueError:
            value = float("nan")
        if base not in _DELAY_UNITS or not value >= 0:
            raise ValueError(
                f"unsupported watermark delay {delay!r}: bad pair "
                f"({n!r}, {unit!r}); units are {sorted(_DELAY_UNITS)} "
                "(optionally plural) and values must be non-negative"
            )
        total += value * _DELAY_UNITS[base]
    return total


def sessionize_stream(
    spark: SparkSession,
    input_dir: str,
    gap_seconds: float = 1800.0,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """readStream over an event directory -> closed-session stream.

    Requires ``watermark_delay <= gap_seconds``. Under that bound the
    stream provably equals the batch gap-sessionization: every admitted
    row r satisfies r >= max_seen - delay, a session is emitted only once
    its last + gap is below that bound (so no admitted row can reach it),
    and until then every row merges into the held sessions exactly as the
    full batch ordering would. The bound also keeps the state to the open
    session plus at most one gap-closed one. With delay > gap, late rows
    could reach sessions already emitted, silently diverging.
    """
    if _delay_seconds(watermark_delay) > gap_seconds:
        raise ValueError(
            f"watermark_delay ({watermark_delay}) must not exceed "
            f"gap_seconds ({gap_seconds}): stream==batch session equality "
            "only holds when late data is bounded by the session gap"
        )
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(input_dir)
    return (
        stream.withWatermark("event_time", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            make_sessionizer(gap_seconds, _delay_seconds(watermark_delay)),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
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
