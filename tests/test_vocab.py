"""Vocabulary build + token-id encoding (operators/vocab.py): contiguous
deterministic ids, exact OOV accounting, empty-doc survival, and the
broadcast-join plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from sonata_neo4j_loader_spark.operators import packing, vocab

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat"),
    (2, "a cat and a dog"),
    (3, ""),
    (4, "   "),
    (5, "zebra"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_vocab_ids_contiguous_and_ordered(spark):
    v = vocab.build_vocab(_docs(spark))
    rows = sorted(v.collect(), key=lambda r: r.term_id)
    # ids contiguous from 0
    assert [r.term_id for r in rows] == list(range(len(rows)))
    # ordered by (count desc, term asc): counts non-increasing, ties
    # alphabetical
    # (r["count"], not r.count: Row.count is the builtin method)
    for a, b in zip(rows, rows[1:]):
        assert a["count"] > b["count"] or (
            a["count"] == b["count"] and a.term < b.term
        )
    # 'the' appears 3x -> id 0
    assert rows[0].term == "the" and rows[0]["count"] == 3


def test_vocab_is_parallelism_invariant(spark):
    docs = _docs(spark)
    v1 = vocab.build_vocab(docs.repartition(1))
    v2 = vocab.build_vocab(docs.repartition(7), min_count=1)
    got1 = sorted(map(tuple, v1.collect()))
    got2 = sorted(map(tuple, v2.collect()))
    assert got1 == got2


def test_min_count_and_max_size(spark):
    v = vocab.build_vocab(_docs(spark), min_count=2)
    rows = {r.term: (r.term_id, r["count"]) for r in v.collect()}
    assert set(rows) == {"the", "cat", "sat", "dog", "a"}


def test_encode_roundtrip_unk_and_empty_docs(spark):
    docs = _docs(spark)
    v = vocab.build_vocab(docs, min_count=2)
    id2term = {r.term_id: r.term for r in v.collect()}
    out = {r.doc_id: r for r in vocab.encode_documents(docs, v).collect()}
    assert set(out) == {0, 1, 2, 3, 4, 5}  # every doc survives
    # doc 0: 'the cat sat on the mat' -> on/mat are OOV (count 1)
    r0 = out[0]
    decoded = [id2term.get(t, "<unk>") for t in r0.token_ids]
    assert decoded == ["the", "cat", "sat", "<unk>", "the", "<unk>"]
    assert r0.n_tokens == 6 and r0.n_unk == 2
    # blank and whitespace-only docs: empty ids, zero counts
    for d in (3, 4):
        assert list(out[d].token_ids) == []
        assert out[d].n_tokens == 0 and out[d].n_unk == 0
    # fully-OOV doc
    assert list(out[5].token_ids) == [-1] and out[5].n_unk == 1


def test_encode_is_partition_invariant(spark):
    docs = _docs(spark)
    v = vocab.build_vocab(docs, min_count=2)
    e1 = sorted(
        (r.doc_id, list(r.token_ids))
        for r in vocab.encode_documents(docs.repartition(5), v).collect()
    )
    e2 = sorted(
        (r.doc_id, list(r.token_ids))
        for r in vocab.encode_documents(docs.repartition(2, "doc_id"), v).collect()
    )
    assert e1 == e2


def test_encode_broadcasts_vocab(spark):
    docs = _docs(spark)
    v = vocab.build_vocab(docs, min_count=2)
    plan = (
        vocab.encode_documents(docs, v)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the Zipf-skewed term key must never shuffle: vocab joins in broadcast
    assert "BroadcastHashJoin" in plan, plan


def test_encode_composes_with_packing(spark):
    docs = _docs(spark)
    v = vocab.build_vocab(docs)
    enc = vocab.encode_documents(docs, v)
    packed = packing.packed_documents(enc, budget=8, token_col="n_tokens")
    rows = {r.doc_id: r.bin_id for r in packed.collect()}
    # doc order 0..5 with token counts 6,3,5,0,0,1 -> prefixes 0,6,9,14,14,14
    assert [rows[i] for i in range(6)] == [0, 0, 1, 1, 1, 1]
