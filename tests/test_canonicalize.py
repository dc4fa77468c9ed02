"""Both connected-components strategies must return identical mappings.

The graph below mixes chains, a star, a cycle, and isolated-pair clusters —
shapes that stress min-propagation across multiple star-contraction rounds.
"""

from __future__ import annotations

import pytest

from sonata_neo4j_loader_spark.operators import canonicalize


EDGES = (
    # chain a-b-c-d (min 'a' must propagate 3 hops)
    [("b", "a"), ("c", "b"), ("d", "c")]
    # star centered on z
    + [("z", "z1"), ("z", "z2"), ("z", "z3")]
    # cycle p-q-r-p
    + [("p", "q"), ("q", "r"), ("r", "p")]
    # pair + duplicate + self-loop noise
    + [("m", "n"), ("n", "m"), ("m", "m")]
)

EXPECTED = {
    "b": "a", "c": "a", "d": "a",
    "z1": "z", "z2": "z", "z3": "z",
    "q": "p", "r": "p",
    "n": "m",
    # min members map to themselves (appear because they're non-isolated)
    "a": "a", "z": "z", "p": "p", "m": "m",
}


@pytest.mark.parametrize("strategy", ["distributed"])
def test_cc_strategies_agree(spark, strategy):
    edges = spark.createDataFrame(EDGES, "alias_a string, alias_b string")
    got = {
        r.entity_id: r.canonical_id
        for r in canonicalize.connected_components(edges, strategy=strategy).collect()
    }
    assert got == EXPECTED


def test_cc_auto_picks_local_for_small(spark):
    edges = spark.createDataFrame(EDGES, "alias_a string, alias_b string")
    got = {
        r.entity_id: r.canonical_id
        for r in canonicalize.connected_components(edges, strategy="auto").collect()
    }
    assert got == EXPECTED


@pytest.mark.parametrize("strategy", ["local", "distirbuted", ""])
def test_cc_rejects_unknown_strategy(spark, strategy):
    edges = spark.createDataFrame(EDGES, "alias_a string, alias_b string")
    with pytest.raises(ValueError, match="strategy"):
        canonicalize.connected_components(edges, strategy=strategy)


def test_cc_auto_goes_distributed_above_edge_budget(spark, monkeypatch):
    """Scale hazard pin (r06): above LOCAL_CC_MAX_EDGES the 'auto'
    strategy must run the distributed star contraction, never pull the
    edge set to the driver. Shrink the budget below the fixture size and
    assert the local path is not invoked while the mapping stays
    identical."""
    from sonata_neo4j_loader_spark.operators import canonicalize

    monkeypatch.setattr(canonicalize, "LOCAL_CC_MAX_EDGES", 2)

    def _boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("auto pulled an over-budget edge set local")

    monkeypatch.setattr(canonicalize, "_local_union_find", _boom)
    edges = spark.createDataFrame(EDGES, "alias_a string, alias_b string")
    got = {
        r.entity_id: r.canonical_id
        for r in canonicalize.connected_components(edges, strategy="auto").collect()
    }
    assert got == EXPECTED


def test_local_cc_preserves_id_dtype_above_double_precision(spark):
    """The local union-find path must return the INPUT id dtype: a
    string-typed mapping anti-joined against bigint ids coerces both
    sides to double, and ids above 2^53 collide (distinct docs merge)."""
    from sonata_neo4j_loader_spark.operators import canonicalize, dedup

    big = 1 << 53
    pairs = spark.createDataFrame([(big + 1, big + 2)], "id_a long, id_b long")
    mapping = canonicalize.connected_components(pairs, "id_a", "id_b")
    assert dict(mapping.dtypes) == {"entity_id": "bigint", "canonical_id": "bigint"}
    assert {(r.entity_id, r.canonical_id) for r in mapping.collect()} == {
        (big + 1, big + 1),
        (big + 2, big + 1),
    }

    # end-to-end: survivors with >2^53 ids — big+3 is NOT a duplicate of
    # big+2 and must survive (a double-coerced join would collapse them)
    docs = spark.createDataFrame(
        [(big + 1, "a"), (big + 2, "b"), (big + 3, "c")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dedup.near_dup_survivors(docs, pairs).collect())
    assert kept == [big + 1, big + 3]
