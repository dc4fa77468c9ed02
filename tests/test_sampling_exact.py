"""Exact-count sampling: size exactness and partitioning invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from sonata_neo4j_loader_spark.operators import sampling


def test_exact_k_size_and_partition_invariance(spark):
    df = spark.range(1000).select(F.col("id").alias("k"))
    a = sampling.sample_exact_k(df.repartition(1), 37, "k")
    b = sampling.sample_exact_k(df.repartition(13, "k"), 37, "k")
    ra = sorted(r.k for r in a.collect())
    rb = sorted(r.k for r in b.collect())
    assert len(ra) == 37
    assert ra == rb  # same rows under any partitioning


def test_exact_k_edge_counts(spark):
    df = spark.range(10).select(F.col("id").alias("k"))
    assert sampling.sample_exact_k(df, 0, "k").count() == 0
    assert sampling.sample_exact_k(df, 10, "k").count() == 10
    assert sampling.sample_exact_k(df, 99, "k").count() == 10


def test_exact_k_seed_changes_selection(spark):
    df = spark.range(1000).select(F.col("id").alias("k"))
    a = {r.k for r in sampling.sample_exact_k(df, 50, "k", seed=1).collect()}
    b = {r.k for r in sampling.sample_exact_k(df, 50, "k", seed=2).collect()}
    assert a != b


def test_sample_k_per_group_deterministic_and_capped(spark):
    from sonata_neo4j_loader_spark.operators import sampling
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "big" if i % 5 else "small") for i in range(200)],
        "k long, grp string",
    )
    out = sampling.sample_k_per_group(df, "grp", 10, "k")
    rows = sorted((r.grp, r.k) for r in out.collect())
    # per-group cap holds; the minority stratum is NOT crowded out
    from collections import Counter
    by_grp = Counter(g for g, _ in rows)
    assert by_grp == {"big": 10, "small": 10}
    # identical selection under different partitioning (the N-vs-4N rule)
    rows2 = sorted(
        (r.grp, r.k)
        for r in sampling.sample_k_per_group(df.repartition(7), "grp", 10, "k").collect()
    )
    assert rows == rows2
    # a group smaller than k keeps everything
    tiny = sampling.sample_k_per_group(df.where(F.col("k") < 3), "grp", 10, "k")
    assert tiny.count() == 3
