"""Driver-entry streaming-sink memoization: one drain per session.

The contract queries that drain a stream (or synthesize a campaign dir)
must not grow a fresh temp dir + checkpoint per call in a long-lived
driver session — the second call reuses the first drain's sink, and the
results stay identical.
"""

from __future__ import annotations

import os

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"


def test_drained_sink_reused_within_session(spark):
    first = entry.events_dedup_streamed(spark, SF_DIR)
    ref, key, sink_a = entry._SESSION_MEMO["events_dedup_streamed"]
    again = entry.events_dedup_streamed(spark, SF_DIR)
    sink_b = entry._SESSION_MEMO["events_dedup_streamed"][2]
    assert sink_a == sink_b  # no second drain, no new temp dir
    assert first.count() == again.count() > 0
    assert key == SF_DIR
    assert ref() is spark  # weakref key tracks the LIVE session


def test_drained_sink_keyed_on_sf_dir(spark):
    # an sf_dir-dependent drain must NOT hand a different scale factor the
    # previous scale's sink: the memo key carries sf_dir
    a = entry.events_dedup_streamed(spark, SF_DIR)
    sink_a = entry._SESSION_MEMO["events_dedup_streamed"][2]
    other = "/root/testdata/sf0.01"
    b = entry.events_dedup_streamed(spark, other)
    sink_b = entry._SESSION_MEMO["events_dedup_streamed"][2]
    assert sink_a != sink_b
    assert a.count() != b.count()  # different corpora, different rows


def test_minhash_pairs_memo_reused_within_session(spark):
    a = entry.minhash_near_dups(spark, "/root/testdata/sf0.001")
    b = entry.minhash_near_dups(spark, "/root/testdata/sf0.001")
    assert a is b  # same persisted frame, no second LSH build
    assert entry._SESSION_MEMO["minhash_pairs"][0]() is spark


def test_minhash_pairs_memo_evicts_on_sf_dir_switch(spark):
    # a same-session sf_dir switch replaces the memo slot; the displaced
    # pair frame must be unpersisted, not left pinned for the session
    a = entry.minhash_near_dups(spark, SF_DIR)
    assert a.is_cached
    b = entry.minhash_near_dups(spark, os.path.join(os.path.dirname(SF_DIR), "sf0.01"))
    assert b.is_cached
    assert not a.is_cached
