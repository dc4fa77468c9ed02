from __future__ import annotations

import itertools

from sonata_neo4j_loader_spark.operators import cooccurrence

LINKED = [
    # doc 1 mentions a,b,c (b twice: repeat mentions count ONE doc)
    (1, "a"), (1, "b"), (1, "b"), (1, "c"),
    (2, "a"), (2, "b"),
    (3, "c"),            # singleton doc: no pairs
    (4, "a"), (4, "c"),
]


def _py_pairs(linked):
    docs: dict[int, set[str]] = {}
    for d, e in linked:
        docs.setdefault(d, set()).add(e)
    pair_n: dict[tuple[str, str], int] = {}
    for ents in docs.values():
        for a, b in itertools.combinations(sorted(ents), 2):
            pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    return pair_n


def test_cooccurrence_counts(spark):
    df = spark.createDataFrame(LINKED, "doc_id bigint, entity_id string")
    got = {
        (r.entity_a, r.entity_b): r.n_docs
        for r in cooccurrence.cooccurrence_edges(df).collect()
    }
    assert got == _py_pairs(LINKED)


def test_cooccurrence_min_count_filters(spark):
    df = spark.createDataFrame(LINKED, "doc_id bigint, entity_id string")
    got = {
        (r.entity_a, r.entity_b): r.n_docs
        for r in cooccurrence.cooccurrence_edges(df, min_count=2).collect()
    }
    assert got == {("a", "b"): 2, ("a", "c"): 2}


def test_cooccurrence_empty_input(spark):
    df = spark.createDataFrame([], "doc_id bigint, entity_id string")
    assert cooccurrence.cooccurrence_edges(df).count() == 0
