"""Property-based stream==batch equality for the stateful sessionizer.

Random event sets, a random two-drop split, and random tolerated-late
deferrals (events held back into drop 2 by at most the watermark delay)
— the documented equality contract (streaming/sessions.py: stream ==
batch for any watermark delay, below and above the gap) probed on shapes
no hand-picked fixture covers: cross-batch open-session continuation,
late rows sorting before the open session's last event, late rows
bridging two held sessions, duplicate timestamps, single-event users.

Real Spark streams per example — max_examples stays small.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sonata_neo4j_loader_spark.streaming import sessions as S

T0 = datetime(2024, 1, 1)
GAP_S = 1800.0          # 30 min session gap
SENTINEL = T0 + timedelta(days=30)

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),      # user
        st.integers(min_value=0, max_value=240),    # minute
    ),
    min_size=1,
    max_size=25,
)


def _batch_sessions(events):
    """Pure-python gap sessionization (the batch twin)."""
    out = {}
    by_user = {}
    for u, m in events:
        by_user.setdefault(u, []).append(m)
    for u, minutes in by_user.items():
        minutes.sort()
        start = last = minutes[0]
        n, total = 0, 0.0
        for m in minutes:
            if (m - last) * 60 > GAP_S:
                out[(u, T0 + timedelta(minutes=start), T0 + timedelta(minutes=last))] = (n, total)
                start, n, total = m, 0, 0.0
            n += 1
            total += float(m)
            last = m
        out[(u, T0 + timedelta(minutes=start), T0 + timedelta(minutes=last))] = (n, total)
    return out


_PROPERTY = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_PROPERTY
@given(events=events_strategy, data=st.data())
def test_stream_equals_batch_on_random_two_drop_splits(spark, events, data, tmp_path_factory):
    """Watermark delay (10 min) below the 30 min gap."""
    _check_two_drop_split(spark, events, data, tmp_path_factory, delay_min=10)


@_PROPERTY
@given(events=events_strategy, data=st.data())
def test_stream_equals_batch_when_delay_exceeds_gap(spark, events, data, tmp_path_factory):
    """Watermark delay (45 min) above the 30 min gap: late rows can land in
    the gap between two held sessions and join them."""
    _check_two_drop_split(spark, events, data, tmp_path_factory, delay_min=45)


def _check_two_drop_split(spark, events, data, tmp_path_factory, delay_min):
    tmp = tmp_path_factory.mktemp("sess_prop")
    src, out, ckpt = str(tmp / "src"), str(tmp / "out"), str(tmp / "ckpt")

    # random split point in time order; then defer a random subset of
    # drop-1 events within delay_min of drop-1's max into drop 2 —
    # tolerated-late rows the stream must merge exactly as batch would
    ordered = sorted(events, key=lambda e: e[1])
    cut = data.draw(st.integers(min_value=0, max_value=len(ordered)))
    drop1, drop2 = list(ordered[:cut]), list(ordered[cut:])
    if drop1:
        tau = max(m for _, m in drop1)
        deferable = [e for e in drop1 if e[1] > tau - delay_min]
        mask = data.draw(
            st.lists(st.booleans(), min_size=len(deferable), max_size=len(deferable))
        )
        kept_max = max(
            (m for (u, m), defer in zip(deferable, mask) if not defer),
            default=None,
        )
        # keep at least one row at the old max so the watermark really
        # advances past the deferred rows' tolerance window
        for e, defer in zip(deferable, mask):
            if defer and len(drop1) > 1 and (kept_max is not None or e[1] < tau):
                drop1.remove(e)
                drop2.append(e)

    def write(rows, with_sentinels=False):
        payload = [
            (T0 + timedelta(minutes=m), u, float(m)) for u, m in rows
        ]
        if with_sentinels:
            payload += [(SENTINEL, u, -1.0) for u in {1, 2, 3}]
        if payload:
            spark.createDataFrame(payload, S.EVENT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)

    write(drop1)
    if drop1:
        S.run_sessions_to_parquet(spark, src, out, ckpt, GAP_S, f"{delay_min} minutes")
    write(drop2, with_sentinels=True)
    S.run_sessions_to_parquet(spark, src, out, ckpt, GAP_S, f"{delay_min} minutes")

    streamed = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
        if r.session_start < SENTINEL
    }
    assert streamed == _batch_sessions(events)
