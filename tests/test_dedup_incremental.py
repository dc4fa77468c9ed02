"""Incremental MinHash dedup: a NEW batch probed against a PERSISTED
posting index (dedup.build_minhash_index / minhash_incremental_duplicates).

The operational 10^12-doc dedup pattern is "today's crawl vs everything
already ingested" — these tests pin (a) result equality with the self-join
detector restricted to cross pairs, (b) file-level partition pruning of
the posting table, (c) the min_bucket_size=1 rule (a singleton history
bucket CAN pair with a batch doc), and (d) fingerprint-skip resume of the
index build.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sonata_neo4j_loader_spark.operators import dedup

WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
]


def _text(i: int) -> str:
    # 12 words, each stamped with i — docs i != j share almost no 5-gram
    # character shingles, so the only near-dups are the planted ones
    return " ".join(
        f"{WORDS[(i * 7 + j * 3) % len(WORDS)]}{i}x{j}" for j in range(12)
    )


def _corpus(spark, n_hist=40, n_batch=10, n_dups=4):
    """History docs 0..n_hist-1; batch docs 1000..; the first n_dups batch
    docs are near-copies of history docs 0..n_dups-1 (one appended word —
    J well above 0.6 on 5-gram shingles)."""
    hist_rows = [(i, _text(i)) for i in range(n_hist)]
    batch_rows = [
        (1000 + i, _text(i) + " zz")  # near-dup of history doc i
        for i in range(n_dups)
    ] + [(1000 + i, _text(500 + i)) for i in range(n_dups, n_batch)]
    schema = "doc_id long, text string"
    return (
        spark.createDataFrame(hist_rows, schema),
        spark.createDataFrame(batch_rows, schema),
    )


def test_incremental_equals_self_join_cross_pairs(spark, tmp_path):
    hist, batch = _corpus(spark)
    idx = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(hist, idx)
    got = {
        (r.new_id, r.hist_id)
        for r in dedup.minhash_incremental_duplicates(
            spark, idx, hist, batch, threshold=0.6, max_bucket_size=None
        ).collect()
    }
    # reference: self-join detector over the union, keep cross pairs only
    union = hist.unionByName(batch)
    all_pairs = dedup.minhash_near_duplicates(union, threshold=0.6).collect()
    want = {
        (r.id_b, r.id_a) if r.id_b >= 1000 else (r.id_a, r.id_b)
        for r in all_pairs
        if (r.id_a >= 1000) != (r.id_b >= 1000)
    }
    assert got == want
    assert len(got) == 4  # the planted near-copies, nothing else


def test_incremental_prune_is_lossless_and_prunes_partitions(spark, tmp_path):
    hist, batch = _corpus(spark)
    idx = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(hist, idx, num_buckets=16)
    one_doc = batch.where(F.col("doc_id") == 1000)
    pruned = dedup.minhash_incremental_duplicates(
        spark, idx, hist, one_doc, threshold=0.6, max_bucket_size=None
    )
    # lossless: doc 1000's cross pairs from the self-join detector, which
    # reads no index at all
    want = sorted(
        (r.id_b, r.id_a, r.jaccard)
        for r in dedup.minhash_near_duplicates(
            hist.unionByName(one_doc), threshold=0.6, max_bucket_size=None
        ).collect()
        if r.id_b == 1000
    )
    assert sorted(map(tuple, pruned.collect())) == want and want
    # one doc posts to 8 bands -> at most 8 of the 16 posting partitions
    # may be listed; partition pruning must show in the physical plan.
    # Anchor to a FileScan's PartitionFilters carrying an IN-list on the
    # sink's partition column (NOT the scan path: Spark truncates the
    # FileScan Location string, so path substrings are brittle; and NOT
    # any loose 'part' substring, which another scan could satisfy).
    from sonata_neo4j_loader_spark.sinks import materialize as mat

    plan = pruned._jdf.queryExecution().executedPlan().toString()
    import re

    scan_filters = re.findall(r"FileScan[^\n]*PartitionFilters: \[([^\]]*)\]", plan)
    assert any(
        re.search(rf"{mat.PART_COL}#\d+ IN \(", f) for f in scan_filters
    ), plan


def test_singleton_history_bucket_pairs_with_batch_doc(spark, tmp_path):
    # ONE history doc (all its buckets are singletons): the self-join rule
    # (min_bucket_size=2) would discard every posting under a bounded
    # max_bucket_size — the incremental probe must still pair with it
    hist = spark.createDataFrame([(1, _text(7))], "doc_id long, text string")
    batch = spark.createDataFrame([(2, _text(7) + " zz")], "doc_id long, text string")
    idx = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(hist, idx)
    got = dedup.minhash_incremental_duplicates(
        spark, idx, hist, batch, threshold=0.6, max_bucket_size=1000
    ).collect()
    assert [(r.new_id, r.hist_id) for r in got] == [(2, 1)]


def test_index_rebuild_fingerprint_skips(spark, tmp_path):
    hist, _ = _corpus(spark)
    idx = str(tmp_path / "mh_idx")
    first = dedup.build_minhash_index(hist, idx)["postings"]
    assert first.partitions_written
    again = dedup.build_minhash_index(hist, idx)["postings"]
    assert again.partitions_written == []
    assert sorted(again.partitions_skipped) == sorted(first.partitions_written)


def test_index_append_rewrites_only_touched_partitions(spark, tmp_path):
    from sonata_neo4j_loader_spark.sinks import materialize as mat

    hist, batch = _corpus(spark)
    # a 2-doc increment posts to <=16 of the 64 partitions — small enough
    # that most of the index MUST fingerprint-skip (the full 10-doc batch's
    # 80 postings would touch essentially all partitions of a small index)
    small_batch = batch.where(F.col("doc_id") < 1002)
    idx = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(hist, idx, num_buckets=64)
    # ingest the batch into the index: only partitions whose posting sets
    # changed are rewritten (a day's increment, not a full rebuild)
    grown = dedup.build_minhash_index(
        hist.unionByName(small_batch), idx, num_buckets=64
    )["postings"]
    touched = {
        r[mat.PART_COL]
        for r in mat.with_bucket(
            dedup.banded_postings(small_batch).select("band", "bucket"),
            ["band", "bucket"],
            64,
        )
        .select(mat.PART_COL)
        .distinct()
        .collect()
    }
    assert grown.partitions_written  # something changed
    assert set(grown.partitions_written) <= touched  # ...only where new postings land
    assert grown.partitions_skipped  # and the untouched rest fingerprint-skipped
