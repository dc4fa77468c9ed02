"""Distributed sequence packing: prefix-sum correctness + plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from sonata_neo4j_loader_spark.operators import packing


def _docs(spark, n=5000):
    # deterministic pseudo-random token counts, unique ordering key
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id"), F.lit(97)) + 1).cast("int").alias("n_tokens"),
    )


def test_prefix_sum_matches_naive_and_parallelism_invariant(spark):
    docs = _docs(spark)
    naive = docs.withColumn(
        "prefix",
        F.coalesce(
            F.sum("n_tokens").over(
                Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("bigint"),
    )
    expected = {(r.doc_id, r.prefix) for r in naive.collect()}
    for nparts in (1, 3, 16):
        got = packing.exclusive_prefix_sum(
            docs, "doc_id", "n_tokens", num_partitions=nparts, out_col="prefix"
        )
        assert {(r.doc_id, r.prefix) for r in got.collect()} == expected, nparts


def test_packed_documents_bins(spark):
    docs = _docs(spark, n=500)
    out = packing.packed_documents(docs, budget=256, num_partitions=4).collect()
    rows = sorted(out, key=lambda r: r.doc_id)
    prefix = 0
    for r in rows:
        assert r.bin_id == prefix // 256
        assert r.bin_offset == prefix % 256
        prefix += r.n_tokens
    # bins fill contiguously: every bin id up to the last occurs
    bins = {r.bin_id for r in rows}
    assert bins == set(range(max(bins) + 1))


def test_packed_documents_rejects_bad_budget(spark):
    with pytest.raises(ValueError, match="budget"):
        packing.packed_documents(_docs(spark, 10), budget=0)


def test_prefix_sum_plan_partitions_the_corpus_window(spark):
    # the corpus-wide window must run INSIDE the range partitions (keyed on
    # _pid); the only unpartitioned window allowed is the dimension-sized
    # per-partition-totals scan. A corpus-scale `Window.orderBy` with no
    # partition spec would funnel 10^12 rows through one reducer.
    docs = _docs(spark)
    got = packing.exclusive_prefix_sum(docs, "doc_id", "n_tokens", num_partitions=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re

    windows = re.findall(r"Window \[[^\]]*\](?:, \[[^\]]*\])*", plan)
    assert any("_pid" in w for w in windows), plan
    # the unpartitioned window's input is the Aggregate over _pid totals,
    # visible in-plan as the HashAggregate feeding it
    assert "HashAggregate" in plan


def test_prefix_sum_holds_no_cache_and_reevaluates_identically(spark):
    # r06: bucket boundaries are plan literals, not persist-pinned
    # repartitionByRange samples — so (a) no cache is retained by the
    # operator and (b) a SECOND evaluation of the same frame (the exact
    # recompute path that made the r05 packed_docs driver row hash-red
    # under eviction) reproduces byte-identical assignments.
    # other tests in the shared session may hold localCheckpoint RDDs;
    # assert this operator adds NO persistent entry of its own
    before_ids = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    docs = _docs(spark, 2000)
    out = packing.packed_documents(docs, budget=128, num_partitions=4)
    first = sorted((r.doc_id, r.bin_id, r.bin_offset) for r in out.collect())
    after_ids = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after_ids <= before_ids  # no retained cache from the prefix sum
    spark.catalog.clearCache()
    second = sorted((r.doc_id, r.bin_id, r.bin_offset) for r in out.collect())
    assert first == second


def test_prefix_sum_struct_order_key(spark):
    # build_vocab orders by a (neg-count, term) STRUCT key — boundary
    # literals must support struct keys (field-wise literals)
    from pyspark.sql import functions as F

    docs = spark.range(500).select(
        F.col("id").alias("k0"),
        F.struct(
            (F.pmod(F.xxhash64("id"), F.lit(13))).alias("a"),
            F.col("id").cast("string").alias("b"),
        ).alias("key"),
        F.lit(1).alias("one"),
    )
    got = packing.exclusive_prefix_sum(
        docs, "key", "one", num_partitions=4, out_col="rank"
    )
    ranks = sorted(r.rank for r in got.collect())
    assert ranks == list(range(500))
