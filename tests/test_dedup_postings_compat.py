"""MinHash posting compatibility: the aggregation-built postings equal the
higher-order-function shape that wrote every committed MinHash index.

``build_minhash_index`` persists ``(doc_id, band, bucket)`` rows and later
batches probe them with freshly banded postings, so a bucket value that
moves silently breaks every index already on disk. The corpus is
adversarial for the explode-then-aggregate shape: empty text, NULL text
(NULL shingle array), whitespace-only text, text shorter than
``shingle_k`` and two identical texts. The expected values are frozen
literals from the higher-order shape, and that shape is kept below as the
local reference.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sonata_neo4j_loader_spark.operators import dedup
from sonata_neo4j_loader_spark.operators.text import add_shingles

TEXT = "The quick brown fox jumps over the lazy dog"
DOCS = [(1, TEXT), (2, ""), (3, None), (4, " \t \n "), (5, "abc"), (6, TEXT)]

# doc id -> bucket of bands 0..7 (shingle_k=5, num_hashes=32, bands=8, seed=42)
BUCKETS = {
    1: [1361795517479911038, -7014238062001662478, 3146586710223378329,
        799314935392101835, 2047599722553583284, -6383896828190761990,
        -7768993336615770040, 5287677031271136043],
    2: [-2222303806914831798, -5773270476269116415, -6508991150762596240,
        -5645012778986022496, 3809008351027389863, -1135225418268758578,
        -4290852270256290191, 8195310624818168742],
    # NULL text: every signature row is NULL, so every band hashes ''
    3: [-7444071767201028348] * 8,
    4: [-7214820834845544328, 5375393431012990871, -4158616599660316169,
        -7560091370955742035, -5110243784210048770, -7061729907798230965,
        1927060731870924407, 7236388753558351785],
    5: [-5891134339982934340, -7218647873655927732, -5393600556027630470,
        5734551635883625400, -1860757288881267342, 921302560880716115,
        3093713640476230417, -4873221364568761252],
}
BUCKETS[6] = BUCKETS[1]

_TEXT_BITMAP = {
    0: 144115189149597696, 1: 281474976710656, 2: 528392, 4: 16384,
    5: 17592186044416, 6: 70368744177664, 7: -9223231299231940608,
    8: 4194304, 9: 294912, 10: 262144, 11: 292733975779082240, 12: 132352,
    14: 549755813888, 15: 8, 16: 72057598332895232, 17: 288230376151711744,
    20: 81064793292668936, 21: 16, 26: 137438961664, 27: 8, 28: 1024,
    29: 526336, 31: 19791209299968,
}
# doc id -> (n, {bitmap word: value} for the non-zero words)
BITMAPS = {
    1: (39, _TEXT_BITMAP),
    2: (1, {22: 16777216}),
    3: (0, {}),
    4: (1, {8: 9007199254740992}),
    5: (1, {7: 17592186044416}),
    6: (39, _TEXT_BITMAP),
}

WORDS = 32


def _hof_postings(df):
    """The higher-order shape: per document, 32 ``aggregate`` bitmap words
    and 32 ``array_min(transform(...))`` signature rows, then one
    ``(band, bucket)`` struct per band exploded."""
    nbits = WORDS * 64
    hashed = add_shingles(
        df.select(F.col("doc_id").alias("_id"), "text"), "text", 5
    ).select(
        "_id",
        F.coalesce(F.size("shingles"), F.lit(0)).alias("n"),
        dedup._shingle_hashes("shingles", 42).alias("hs"),
    )
    words = [
        F.coalesce(
            F.expr(
                f"aggregate(hs, cast(0 as bigint), (acc, h) -> "
                f"if((h % {nbits}) div 64 = {w}, "
                f"acc | shiftleft(cast(1 as bigint), cast(h % 64 as int)), acc))"
            ),
            F.lit(0),
        ).alias(f"_bm{w}")
        for w in range(WORDS)
    ]

    def affine(a: int, b: int):
        return lambda h: F.pmod(a * h + b, F.lit(dedup._MERSENNE31))

    sig = F.array(
        *[
            F.array_min(F.transform("hs", affine(a, b)))
            for a, b in dedup._affine_params(32, 42)
        ]
    )
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(band).alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", *[F.element_at("sig", band * 4 + r + 1) for r in range(4)])
                    ).alias("bucket"),
                )
                for band in range(8)
            ]
        )
    )
    bm = [f"_bm{w}" for w in range(WORDS)]
    return (
        hashed.select("_id", "n", *words, sig.alias("sig"))
        .select("_id", "n", *bm, bands.alias("bb"))
        .select("_id", "n", *bm, "bb.band", "bb.bucket")
    )


def _frozen_rows():
    return sorted((i, band, bk) for i, bks in BUCKETS.items() for band, bk in enumerate(bks))


def _triples(rows):
    return sorted((r["_id"], r["band"], r["bucket"]) for r in rows)


def _bitmaps(rows):
    return {r["_id"]: (r["n"], {w: r[f"_bm{w}"] for w in range(WORDS) if r[f"_bm{w}"]}) for r in rows}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_reference_shape_reproduces_the_frozen_values(docs):
    rows = _hof_postings(docs).collect()
    assert _triples(rows) == _frozen_rows()
    assert _bitmaps(rows) == BITMAPS


def test_banded_postings_equal_the_frozen_values(docs):
    post = dedup.banded_postings(docs)
    assert post.columns == ["_id", "band", "bucket"]
    assert _triples(post.collect()) == _frozen_rows()


def test_near_dup_postings_equal_the_frozen_values(docs):
    post = dedup._minhash_postings(docs, "doc_id", "text", 5, 32, 8, 42)
    ref = _hof_postings(docs)
    assert post.schema == ref.schema
    rows = post.collect()
    assert _triples(rows) == _frozen_rows()
    assert _bitmaps(rows) == BITMAPS
    assert sorted(rows) == sorted(ref.collect())
