"""Stage 5 — triple factory: assemble (subj, pred, obj) rows.

Predicate vocabulary ≙ the reference's Cypher relationship types
(FIXTURES.md §5):

===================  =====================  ==========================================
pred                 reference type         reference source
===================  =====================  ==========================================
SYNAPSES_ONTO        SYNAPSE (CREATE)       circuit/neo4j_operations.py:376-420
HAS_MTYPE            BELONGS_TO_MTYPE       neo4j_operations.py:196-229 (MERGE)
HAS_SCLASS           BELONGS_TO_SCLASS      neo4j_operations.py:104-156 (MERGE)
HAS_ETYPE            (generic nodegroup)    neo4j_operations.py:159-193 (param label)
BELONGS_TO           BELONGS_TO             neo4j_operations.py:349-372 (MERGE)
HAS_MORPHOLOGY       (node attribute)       nodes_A.h5.txt dataset "morphology"
===================  =====================  ==========================================

MERGE ⇒ ``dropDuplicates`` on (subj, pred, obj); CREATE ⇒ multiset, one
row per source document. Cypher ``MATCH`` on both endpoints silently drops
edges referencing unknown neurons (``neo4j_operations.py:387-393``) — here
that is an inner join against the detected-neuron set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import linking, mentions

# mention kind -> predicate for neuron attribute triples
ATTRIBUTE_PREDICATES: dict[str, str] = {
    "mtype": "HAS_MTYPE",
    "etype": "HAS_ETYPE",
    "sclass": "HAS_SCLASS",
    "population": "BELONGS_TO",
    "media": "HAS_MORPHOLOGY",
}


def linked_attribute_pairs(
    extracted: DataFrame, entities: DataFrame, strategy: str = "broadcast"
) -> DataFrame:
    """Extraction frame -> linked neuron×attribute pairs (doc_id, subj, kind, obj).

    Within each document the neuron mention is the subject and every
    co-mentioned entity an object — Cypher's per-row ``MATCH (n:Neuron
    {..}) MATCH (g {name: ..})`` pattern (reference
    ``neo4j_operations.py:216-221``). The pairing happens inside the
    extraction row (``mentions.attribute_pairs_from_extracted``), so no
    corpus-scale doc_id join runs; both surfaces then link against
    ``entities``, whose ids must already be canonical. The attribute
    triples and the node payloads are both projections of this frame.
    """
    return linking.link_columns(
        mentions.attribute_pairs_from_extracted(extracted),
        entities,
        {"subj_surface": "subj", "obj_surface": "obj"},
        strategy,
    )


def attribute_triples(extracted: DataFrame, entities: DataFrame) -> DataFrame:
    """Extraction frame -> deduped neuron-attribute triples (MERGE semantics):
    the streaming ingest's entry to the batch plan's one attribute path."""
    return neuron_attribute_triples_from_pairs(linked_attribute_pairs(extracted, entities))


def _lookup(mapping: dict[str, str], col: F.Column) -> F.Column:
    """``mapping[col]`` as a literal-map lookup (NULL for unmapped keys)."""
    return F.create_map(
        *[x for k, v in mapping.items() for x in (F.lit(k), F.lit(v))]
    )[col]


def neuron_attribute_triples_from_pairs(pairs_linked: DataFrame) -> DataFrame:
    """Linked per-document pairs (subj, kind, obj) -> deduped attribute triples.

    Both surfaces are already linked/canonicalized, so all that remains is
    the kind→predicate map and the MERGE dedup. The dropDuplicates is the
    only exchange in the whole branch, and partial aggregation shrinks it
    to the distinct triple set (dimension-sized) before any bytes move.
    Output is row-identical to a doc_id self-join of linked mentions
    (tests/test_triples_golden.py keeps that join as its reference).
    """
    return (
        pairs_linked.select(
            "subj", _lookup(ATTRIBUTE_PREDICATES, F.col("kind")).alias("pred"), "obj"
        )
        .where(F.col("pred").isNotNull())
        .dropDuplicates(["subj", "pred", "obj"])
    )


def known_neurons(linked: DataFrame) -> DataFrame:
    """Distinct canonical neuron ids detected in node documents."""
    return (
        linked.where(F.col("kind") == "neuron")
        .select(F.col("entity_id").alias("neuron_id"))
        .distinct()
    )


def synapse_triples(
    linked_synapses: DataFrame,
    neurons: DataFrame,
    broadcast_neurons: bool = True,
) -> DataFrame:
    """synapse rows (canonical src/tgt entity ids) -> SYNAPSES_ONTO triples.

    * multiset: one triple per source document (Cypher CREATE,
      ``neo4j_operations.py:391``), ``doc_id`` kept as provenance;
    * endpoint-existence inner joins reproduce MATCH's silent drop of
      dangling edges (``neo4j_operations.py:387-390``).

    ``neurons`` is usually small relative to the edge set (dimension-vs-fact);
    broadcast by default, sort-merge (AQE skew-handled) otherwise.
    """
    n_src = neurons.select(F.col("neuron_id").alias("subj"))
    n_tgt = neurons.select(F.col("neuron_id").alias("obj"))
    if broadcast_neurons:
        n_src, n_tgt = F.broadcast(n_src), F.broadcast(n_tgt)
    return (
        linked_synapses.select(
            "doc_id",
            F.col("src_id").alias("subj"),
            F.lit("SYNAPSES_ONTO").alias("pred"),
            F.col("tgt_id").alias("obj"),
            "props",
            "afferent_section_type",
        )
        .join(n_src, "subj", "inner")
        .join(n_tgt, "obj", "inner")
        .select("doc_id", "subj", "pred", "obj", "props", "afferent_section_type")
    )


# mention kind -> node property key, ≙ the attribute column names the
# reference discovers in the h5 node storage (data_extraction.py:52-58)
# and copies onto the node wholesale with ``SET n += node``
# (neo4j_operations.py:339).
PROPERTY_KEYS: dict[str, str] = {
    "mtype": "mtype",
    "etype": "etype",
    "sclass": "synapse_class",
    "population": "population_name",
    "media": "morphology",
}


def _strip_entity_prefix(col: F.Column) -> F.Column:
    """'mtype:L4_PC' -> 'L4_PC' — property *values* are bare strings."""
    return F.regexp_replace(col, "^[^:]+:", "")


# dictionary entity type -> node label ≙ reference node labels: Neuron
# (neo4j_operations.py:338), NodeGroup:MType / NodeGroup:SClass (:186),
# Population (:312)
NODE_LABELS: dict[str, str] = {
    "neuron": "Neuron",
    "mtype": "MType",
    "etype": "EType",
    "sclass": "SClass",
    "population": "Population",
    "morphology": "Morphology",
}


def nodes_from_pairs(
    pairs_linked: DataFrame,
    extracted: DataFrame,
    entities: DataFrame,
    strategy: str = "broadcast",
) -> DataFrame:
    """The ``nodes`` table (entity_id, label, properties map<string,string>)
    from the unsampled :func:`linked_attribute_pairs`.

    * label: every entity a distinct mention surface links to, from its
      dictionary ``entity_type`` (``min`` if canonicalization merged types),
      so no shuffle order can pick it.
    * neuron properties ≙ ``SET n += node`` (neo4j_operations.py:339): each
      paired entity under its ``PROPERTY_KEYS`` key (bare id), plus the
      layer/region spans of every row mentioning the neuron. Conflicts
      resolve to ``max`` — deterministic, unlike the reference's UNWIND-order
      last write.
    * population properties ≙ ``SET p += population`` (neo4j_operations.py:316,
      data_extraction.py:66-72): {name, size = distinct paired neurons}.
    * other nodes: NULL map.
    """
    surfaces = mentions.mentions_from_extracted(extracted).select("surface").distinct()
    labels = (
        linking.link_surfaces(surfaces, entities, strategy)
        .groupBy("entity_id")
        .agg(F.min(_lookup(NODE_LABELS, F.col("entity_type"))).alias("label"))
        .where(F.col("label").isNotNull())
    )
    from_pairs = pairs_linked.select(
        F.col("subj").alias("entity_id"),
        _lookup(PROPERTY_KEYS, F.col("kind")).alias("key"),
        _strip_entity_prefix(F.col("obj")).alias("value"),
    ).where(F.col("key").isNotNull())
    neuron_mentions = F.filter("mentions", lambda m: m["kind"] == F.lit("neuron"))
    attr_rows = (
        extracted.select("doc_id", "mentions", F.explode("node_attrs").alias("key", "value"))
        .select("doc_id", "key", "value", F.explode(neuron_mentions).alias("_m"))
        .select("doc_id", "key", "value", F.col("_m.surface").alias("surface"))
    )
    from_attrs = linking.link_mentions(attr_rows, entities, strategy=strategy).select(
        "entity_id", "key", "value"
    )
    neuron_props = (
        from_pairs.unionByName(from_attrs)
        .groupBy("entity_id", "key")
        .agg(F.max("value").alias("value"))
        .groupBy("entity_id")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("key", "value")))
            ).alias("properties")
        )
    )
    population_props = (
        pairs_linked.where(F.col("kind") == "population")
        .groupBy(F.col("obj").alias("entity_id"))
        .agg(F.countDistinct("subj").cast("string").alias("size"))
        .select(
            "entity_id",
            F.create_map(
                F.lit("name"), _strip_entity_prefix(F.col("entity_id")),
                F.lit("size"), F.col("size"),
            ).alias("properties"),
        )
    )
    return labels.join(neuron_props.unionByName(population_props), "entity_id", "left")
