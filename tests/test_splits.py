"""Leakage-safe splits (operators/splits.py): deterministic hash
assignment, exact threshold arithmetic, and the cluster rule — near-dup
components never straddle the train/eval boundary."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sonata_neo4j_loader_spark.operators import splits

FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}


def test_thresholds_cumulative_and_pinned():
    pairs = splits.split_thresholds(FRACS)
    assert [n for n, _ in pairs] == ["train", "val", "test"]
    b = 1 << 20
    assert pairs[0][1] == round(0.8 * b)
    assert pairs[1][1] == round(0.9 * b)
    assert pairs[2][1] == b  # pinned: no bucket unassigned


def test_bad_fractions_rejected():
    with pytest.raises(ValueError):
        splits.split_thresholds({"train": 0.8, "val": 0.1})  # sums to 0.9
    with pytest.raises(ValueError):
        splits.split_thresholds({"train": 1.5, "val": -0.5})
    with pytest.raises(ValueError):
        splits.split_thresholds({})


def test_assign_is_partition_invariant_and_converges(spark):
    docs = spark.range(20_000).select(F.col("id").alias("doc_id"))
    out1 = splits.assign_splits(docs.repartition(3), "doc_id", FRACS)
    out2 = splits.assign_splits(docs.repartition(17, "doc_id"), "doc_id", FRACS)
    rows1 = sorted((r.doc_id, r.split) for r in out1.collect())
    assert rows1 == sorted((r.doc_id, r.split) for r in out2.collect())
    n = {s: 0 for s in FRACS}
    for _, s in rows1:
        n[s] += 1
    assert sum(n.values()) == 20_000  # total coverage, no drops
    for name, f in FRACS.items():
        assert abs(n[name] / 20_000 - f) < 0.02


def test_md5_twin_matches_python_recompute(spark):
    import hashlib

    docs = spark.range(2_000).select(F.col("id").alias("doc_id"))
    out = splits.assign_splits(docs, "doc_id", FRACS, seed=13)
    got = {r.doc_id: r.split for r in out.collect()}
    thr = splits.split_thresholds(FRACS)
    for i in range(2_000):
        bucket = int(hashlib.md5(f"13:{i}".encode()).hexdigest()[:8], 16) % (1 << 20)
        want = next(name for name, t in thr if bucket < t)
        assert got[i] == want, (i, bucket)


def test_single_split_is_constant(spark):
    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    out = splits.assign_splits(docs, "doc_id", {"train": 1.0})
    assert {r.split for r in out.collect()} == {"train"}


def test_assign_adds_no_exchange(spark):
    docs = spark.range(1_000).select(F.col("id").alias("doc_id"))
    plan = (
        splits.assign_splits(docs, "doc_id", FRACS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_cluster_members_share_split_including_transitive(spark):
    # components: {0,1,2} via chain 0-1, 1-2 (0 and 2 never paired),
    # {10,11}; 20..99 isolated
    docs = spark.range(100).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    out = splits.assign_splits_by_cluster(
        docs, pairs, "doc_id", FRACS, seed=13
    ).collect()
    by_id = {r.doc_id: (r.group_id, r.split) for r in out}
    assert by_id[0] == by_id[1] == by_id[2]  # transitive chain: one split
    assert by_id[0][0] == 0  # min-id representative
    assert by_id[10] == by_id[11]
    assert by_id[10][0] == 10
    # isolated docs group on themselves and split exactly like assign_splits
    plain = {
        r.doc_id: r.split
        for r in splits.assign_splits(docs, "doc_id", FRACS, seed=13).collect()
    }
    for i in range(20, 100):
        assert by_id[i] == (i, plain[i])
    # the audit invariant: one split per group
    assert all(
        len({by_id[m][1] for m in grp}) == 1
        for grp in ([0, 1, 2], [10, 11])
    )


def test_cluster_split_broadcasts_mapping(spark):
    docs = spark.range(1_000).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    plan = (
        splits.assign_splits_by_cluster(docs, pairs, "doc_id", FRACS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the corpus side must not shuffle: mapping joins in as a broadcast
    assert "BroadcastHashJoin" in plan, plan
