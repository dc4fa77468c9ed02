"""ANN recall pinned against exact brute force (sf0.01 embeddings).

The approximate paths (hyperplane LSH, IVF coarse quantizer) are
md5-seeded, so the DuckDB oracles recompute their exact rows; this test
supplies the quality bound the oracles cannot: recall@10 vs the exact
ranking.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sonata_neo4j_loader_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def exact_topk(spark, emb):
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = similarity.brute_force_topk(emb, q, k=10).collect()
    return {(r.query_id, r.vec_id) for r in rows}


def _recall(approx_rows, exact_pairs) -> float:
    hits = sum(1 for r in approx_rows if (r.query_id, r.vec_id) in exact_pairs)
    return hits / len(exact_pairs)


def test_ivf_recall(spark, emb, exact_topk):
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.ivf_ann_topk(emb, q, k=10, n_centroids=16, nprobe=4).collect()
    # nprobe=4 of 16 lists scans ~25% of the corpus; on near-orthogonal
    # random vectors the exact top-10 spreads across lists, so recall is
    # bounded but must be far above the ~25% scanned fraction
    assert _recall(got, exact_topk) >= 0.3


def test_ivf_full_probe_is_exact(spark, emb, exact_topk):
    # probing every list degenerates to brute force — recall must be 1.0
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.ivf_ann_topk(emb, q, k=10, n_centroids=8, nprobe=8).collect()
    assert _recall(got, exact_topk) == 1.0


def test_lsh_recall(spark, emb, exact_topk):
    # 3 bands × 4 bits inspect an expected ~3/16 ≈ 19% of the corpus; on
    # isotropic random vectors (the hardest case for LSH — no cluster
    # structure) recall must still clear that scanned fraction, showing
    # the buckets are angle-correlated rather than random samples
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.lsh_ann_topk(emb, q, k=10).collect()
    assert _recall(got, exact_topk) >= 0.22


@pytest.mark.parametrize("path", ["brute", "lsh", "ivf"])
def test_null_vector_query_gets_no_rows(spark, emb, path):
    # a NULL query vector scores a NULL cosine against every candidate;
    # those pairs drop out, so it gets no rows, and the others keep theirs
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    q = q.unionByName(spark.createDataFrame([(10**9, None)], q.schema))
    topk = {
        "brute": similarity.brute_force_topk,
        "lsh": similarity.lsh_ann_topk,
        "ivf": similarity.ivf_ann_topk,
    }[path]
    got = topk(emb, q, k=5).collect()
    assert not [r for r in got if r.query_id == 10**9]
    assert len(got) == 5 * 5
    assert all(r.cos is not None for r in got)


def test_embedding_near_dup_hot_bucket_bound(spark):
    # a dense cluster of 30 same-direction vectors (positive rescales keep
    # every hyperplane sign) lands in ONE bucket per band; with
    # max_bucket_size=10 those buckets are dropped, while the negated pair
    # (all sign bits complemented => disjoint buckets in every band)
    # survives. Exact mode recovers the full cluster for contrast.
    import math

    v = [math.sin(i + 1) for i in range(64)]
    neg = [-x for x in v]
    rows = [(i, [x * (1.0 + 0.0001 * i) for x in v]) for i in range(30)]
    rows += [(100, neg), (101, [x * 1.0005 for x in neg])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_duplicates(
            df, threshold=0.95, max_bucket_size=None
        ).collect()
    }
    cluster_pairs = {(a, b) for a in range(30) for b in range(a + 1, 30)}
    assert cluster_pairs <= exact
    assert (100, 101) in exact

    bounded = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_duplicates(
            df, threshold=0.95, max_bucket_size=10
        ).collect()
    }
    assert bounded & cluster_pairs == set()
    assert bounded == exact - cluster_pairs


def test_prebuilt_index_build_query_resume(spark, emb, tmp_path_factory):
    # build → query must equal the inline ivf_ann_topk; re-build must
    # fingerprint-skip every partition (resume contract through the sink)
    idx = str(tmp_path_factory.mktemp("ivf_idx"))
    reports = similarity.build_ivf_index(emb, idx, n_centroids=16, num_buckets=8)
    assert reports["lists"].rows_written > 0
    assert reports["centroids"].rows_written == 16

    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    inline = similarity.ivf_ann_topk(emb, q, k=10, n_centroids=16, nprobe=4).collect()
    prebuilt = similarity.ivf_ann_topk_prebuilt(spark, idx, q, k=10, nprobe=4).collect()
    assert sorted(map(tuple, prebuilt)) == sorted(map(tuple, inline))

    again = similarity.build_ivf_index(emb, idx, n_centroids=16, num_buckets=8)
    assert again["lists"].rows_written == 0 and not again["lists"].partitions_written
    assert again["centroids"].rows_written == 0


def test_prebuilt_index_with_the_older_meta_schema(spark, emb, tmp_path_factory):
    # indexes built while the centroid hash was a parameter carry a fourth
    # meta column naming it; the query side reads only num_buckets, so such
    # an index must answer exactly like the inline build
    idx = str(tmp_path_factory.mktemp("ivf_idx_old_meta"))
    similarity.build_ivf_index(emb, idx, n_centroids=16, num_buckets=8)
    meta = spark.read.parquet(f"{idx}/meta").collect()[0]
    spark.createDataFrame(
        [(meta.num_buckets, meta.n_centroids, meta.seed, "md5")],
        "num_buckets int, n_centroids int, seed int, hash_impl string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{idx}/meta")
    assert spark.read.parquet(f"{idx}/meta").columns == [
        "num_buckets", "n_centroids", "seed", "hash_impl"
    ]

    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    inline = similarity.ivf_ann_topk(emb, q, k=10, n_centroids=16, nprobe=4).collect()
    prebuilt = similarity.ivf_ann_topk_prebuilt(spark, idx, q, k=10, nprobe=4).collect()
    assert inline and sorted(map(tuple, prebuilt)) == sorted(map(tuple, inline))


def test_prebuilt_prune_scans_only_probed_buckets(spark, emb, tmp_path_factory):
    # the plan's parquet scan must carry a part-IN filter covering ONLY the
    # probed lists' buckets (file-level pruning — the 100-TB query cost)
    idx = str(tmp_path_factory.mktemp("ivf_idx2"))
    similarity.build_ivf_index(emb, idx, n_centroids=16, num_buckets=8)
    q = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = similarity.ivf_ann_topk_prebuilt(spark, idx, q, k=5, nprobe=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"part#\d+ IN \(([^)]*)\)", plan)
    assert m, plan
    n_parts = len(m.group(1).split(","))
    # 2 queries × nprobe=1 → at most 2 distinct buckets scanned (of 8)
    assert n_parts <= 2
