"""Near-dup detector quality pinned with planted duplicates.

minhash/simhash are hash-seeded (rows-only at the driver gate); these
tests supply the quality bound: a lightly mutated copy of a document
(one appended token) MUST be recovered as a near-dup of its source.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sonata_neo4j_loader_spark.operators import dedup

SF_DIR = "/root/testdata/sf0.01"
N_PLANTED = 20
OFFSET = 1_000_000


@pytest.fixture(scope="module")
def planted_ids(spark):
    # one appended token must be a SMALL relative change for near-dup
    # semantics to apply — plant on the longest documents (on a 50-char doc
    # 8 new chars flips a third of the shingle set and the twin genuinely
    # is not a near-duplicate)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = (
        docs.select("doc_id", F.length("text").alias("n"))
        .orderBy(F.desc("n"), "doc_id")
        .limit(N_PLANTED)
        .collect()
    )
    return [r.doc_id for r in rows]


@pytest.fixture(scope="module")
def corpus(spark, planted_ids):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    twins = docs.where(F.col("doc_id").isin(planted_ids)).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"),
        F.concat("text", F.lit(" zyzzyva")).alias("text"),
    )
    return docs.unionByName(twins)


def _planted_recall(pairs, planted_ids) -> float:
    got = {(min(a, b), max(a, b)) for a, b in pairs}
    want = {(i, i + OFFSET) for i in planted_ids}
    return len(got & want) / len(want)


def test_minhash_recovers_planted(corpus, planted_ids):
    rows = dedup.minhash_near_duplicates(corpus, "doc_id", "text", threshold=0.6).collect()
    # one appended token keeps 5-gram jaccard ~0.95; at 8 bands x 4 rows the
    # per-pair miss probability is ~(1 - 0.95^4)^8 < 1e-5
    assert _planted_recall(((r.id_a, r.id_b) for r in rows), planted_ids) == 1.0
    # verification bound: every reported pair really clears the threshold
    assert all(r.jaccard >= 0.6 for r in rows)


def test_simhash_finds_every_pair_within_guarantee(spark, corpus, planted_ids):
    # the detector's contract is pigeonhole-exact: with 4 signature chunks,
    # any pair within hamming 3 shares at least one chunk bucket, so recall
    # over such pairs must be 1.0 — compute true hamming per planted pair
    # and demand exactly the guaranteed subset (plus nothing over the cap)
    from sonata_neo4j_loader_spark.operators.text import add_shingles

    sigs = {
        r.doc_id: r.sim
        for r in add_shingles(corpus, "text", 5)
        .select("doc_id", dedup.simhash_expr("shingles").alias("sim"))
        .collect()
    }
    within = {
        (i, i + OFFSET)
        for i in planted_ids
        if bin(sigs[i] ^ sigs[i + OFFSET]).count("1") <= 3
    }
    assert within, "fixture regression: no planted pair within the guarantee"
    rows = dedup.simhash_near_duplicates(corpus, "doc_id", "text", max_hamming=3).collect()
    got = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)) for r in rows}
    assert within <= got
    assert all(r.hamming <= 3 for r in rows)


def test_exact_dedup_ignores_planted_mutations(corpus):
    # the mutated twins are NOT exact duplicates — exact dedup must keep
    # every planted doc as its own group
    groups = dedup.exact_duplicate_groups(corpus, "doc_id", "text")
    assert groups.where(F.col("n_members") > 1).count() == 0


def test_simhash_hot_bucket_bound_drops_degenerate_bucket(spark):
    # 30 identical docs collapse to ONE simhash value, so every 16-bit
    # chunk bucket holds all 30 — the p² blow-up VERDICT flags at web
    # scale. With max_bucket_size=10 those buckets must be dropped (no
    # blob-internal pairs), while an honest near-dup pair living in its
    # own size-2 buckets survives untouched.
    blob_text = "spam spam spam lorem ipsum dolor sit amet consectetur adipiscing"
    base = "the quick brown fox jumps over the lazy dog while reciting shakespeare sonnets"
    rows = [(i, blob_text) for i in range(30)]
    rows += [(100, base), (101, base + " zyzzyva")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
        for r in dedup.simhash_near_duplicates(df, max_bucket_size=None).collect()
    }
    blob_pairs = {(a, b) for a in range(30) for b in range(a + 1, 30)}
    # identical docs => hamming 0 => every blob pair present in exact mode
    assert blob_pairs <= exact

    bounded = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
        for r in dedup.simhash_near_duplicates(df, max_bucket_size=10).collect()
    }
    assert bounded & blob_pairs == set()
    # everything OUTSIDE the degenerate bucket is preserved by the bound
    assert bounded == exact - blob_pairs


def test_ngram_prefix_filter_lossless_and_shrinks_hot_postings(spark):
    """The prefix-filtered inverted index must (a) produce EXACTLY the
    brute-force all-pairs Jaccard result — the filter is lossless for any
    t > 0 — and (b) exclude a corpus-universal hot shingle from nearly
    every doc's prefix, shrinking the posting-join input: the k=1 hot-key
    p² blowup the r03 VERDICT flagged as the last scale weak-spot."""
    import itertools

    # every doc contains 'z' and ' ' (hot shingles, df = corpus size) plus
    # 4 DISTINCT rare chars, giving 6 distinct shingles per doc — a mix of
    # true pairs (≥2 shared rare chars) and near-misses
    alphabet = "abcdefghij"
    combos = list(itertools.combinations(alphabet, 4))
    # stride through the combo list so no single rare char appears in all
    # docs (the lexicographic head is all-'a')
    rows = [
        (i, " ".join(("z",) + combos[5 * i])) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.5

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(df, shingle_k=1, threshold=t).collect()
    }

    # independent brute force over normalized char sets (k=1 semantics:
    # distinct chars of the whitespace-collapsed lowercase text)
    sets = {i: set(" ".join(txt.split())) for i, txt in rows}
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        j = inter / len(sets[a] | sets[b])
        if round(j, 6) >= t:
            want.add((a, b, round(j, 6)))
    assert got == want and len(want) > 0

    # the hot shingles must drop out of EVERY prefix: with 6 distinct
    # shingles per doc and t=0.5, each prefix keeps 6-3+1=4 of 6 tokens in
    # rarity order, and 'z'/' ' (df=40, the corpus maximum) sort last
    from sonata_neo4j_loader_spark.operators.text import add_shingles

    sh = add_shingles(df, "text", 1).select("doc_id", "shingles")
    posts_n = sh.select(F.explode("shingles")).count()
    prefix = dedup.prefix_index(sh, "doc_id", t)
    assert prefix.where(F.col("shingle").isin(["z", " "])).count() == 0
    assert prefix.count() == posts_n * 4 // 6


def test_ngram_bitmap_leg_identical_to_array_leg(spark, monkeypatch):
    # The exact-bitmap leg (global-prefix-order bits,
    # popcount intersection, minimal-shared-bit dedup instead of a pair
    # distinct) must be row-identical to the array-verify leg for every
    # threshold — including boundary pairs and docs sharing only hot
    # shingles.
    import itertools

    alphabet = "abcdefghij"
    combos = list(itertools.combinations(alphabet, 4))
    rows = [(i, " ".join(("z",) + combos[5 * i])) for i in range(40)]
    rows.append((40, rows[0][1]))  # an exact twin: a J=1.0 pair at any t
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(t):
        return {
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.ngram_jaccard_pairs(df, shingle_k=1, threshold=t).collect()
        }

    bm = {t: pairs(t) for t in (0.3, 0.5, 0.8)}
    # a zero bit budget fails the universe probe: the array leg runs
    with monkeypatch.context() as m:
        m.setattr(dedup, "_EXACT_JACCARD_MAX_BITS", 0)
        arr = {t: pairs(t) for t in (0.3, 0.5, 0.8)}
    assert bm == arr and all(arr.values())
    # the bitmap leg must emit each pair exactly once — there is no
    # distinct in its plan to mop up duplicates (plan-shape pin: the
    # main query has no Aggregate at all; dfreq rides the driver probe)
    out = dedup.ngram_jaccard_pairs(df, shingle_k=1, threshold=0.3)
    pairs = [(r.id_a, r.id_b) for r in out.collect()]
    assert len(pairs) == len(set(pairs))
    assert "Aggregate" not in out._jdf.queryExecution().optimizedPlan().toString()


def test_near_dup_survivors_collapse_transitive_chains(spark):
    # A~B and B~C without A~C: the CLUSTER must collapse to min(A,B,C) —
    # per-pair survivor picking would wrongly keep one of {B, C} too
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id for r in dedup.near_dup_survivors(df, pairs).collect()
    )
    assert kept == [0, 1, 4]  # {0,3,5}->0, {1,2}->1, isolated 4 stays
