"""Mixture resampling (sampling.resample_by_group): deterministic
per-group up/down-weighting — integer copies exact, fractional copies
hash-Bernoulli, everything partition-invariant."""

from __future__ import annotations

from pyspark.sql import functions as F

from sonata_neo4j_loader_spark.operators import sampling


def _docs(spark, n=20_000):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("und")
        .alias("lang"),
    )


def test_integer_rate_exact_copies(spark):
    out = sampling.resample_by_group(
        _docs(spark, 300), "lang", {"en": 3.0, "de": 1.0, "und": 0.0}, "doc_id"
    )
    rows = out.collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append((r.doc_id, r.copy_id))
    assert "und" not in by_lang  # rate 0 drops the group
    assert len(by_lang["en"]) == 100 * 3
    assert len(by_lang["de"]) == 100
    # copy ids are contiguous 0..n-1 per doc
    en_copies = {}
    for doc_id, copy_id in by_lang["en"]:
        en_copies.setdefault(doc_id, set()).add(copy_id)
    assert all(c == {0, 1, 2} for c in en_copies.values())


def test_fractional_rate_converges_and_is_deterministic(spark):
    docs = _docs(spark)
    out1 = sampling.resample_by_group(
        docs.repartition(3), "lang", {"en": 2.5, "de": 0.25}, "doc_id"
    )
    out2 = sampling.resample_by_group(
        docs.repartition(17, "doc_id"), "lang", {"en": 2.5, "de": 0.25}, "doc_id"
    )
    rows1 = sorted((r.doc_id, r.copy_id) for r in out1.collect())
    assert rows1 == sorted((r.doc_id, r.copy_id) for r in out2.collect())
    n = {lang: 0 for lang in ("en", "de", "und")}
    for doc_id, _ in rows1:
        n[("en", "de", "und")[doc_id % 3]] += 1
    # exact residue-class sizes in range(20_000): 0 mod 3 -> 6667 (en),
    # 1 mod 3 -> 6667 (de), 2 mod 3 -> 6666 (und)
    n_en = len(range(0, 20_000, 3))
    n_de = len(range(1, 20_000, 3))
    n_und = len(range(2, 20_000, 3))
    assert abs(n["en"] / n_en - 2.5) < 0.05
    assert abs(n["de"] / n_de - 0.25) < 0.05
    assert n["und"] == n_und  # default_rate=1 passes the group through


def test_md5_twin_matches_python_recompute(spark):
    import hashlib

    docs = _docs(spark, 2_000)
    out = sampling.resample_by_group(
        docs, "lang", {"en": 1.5}, "doc_id", seed=7
    )
    got = sorted((r.doc_id, r.copy_id) for r in out.where(F.col("lang") == "en").collect())
    thr = int(round(0.5 * (1 << 20)))
    want = []
    for i in range(0, 2_000, 3):  # en docs
        bucket = int(hashlib.md5(f"7:{i}".encode()).hexdigest()[:8], 16) % (1 << 20)
        copies = 2 if bucket < thr else 1
        want.extend((i, c) for c in range(copies))
    assert got == sorted(want)


def test_negative_rate_rejected(spark):
    import pytest

    with pytest.raises(ValueError):
        sampling.resample_by_group(_docs(spark, 10), "lang", {"en": -1.0}, "doc_id")
