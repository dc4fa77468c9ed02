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


def attribute_triples(
    extracted: DataFrame,
    entities: DataFrame,
    strategy: str = "broadcast",
    salt_buckets: int = 8,
) -> DataFrame:
    """Extraction frame -> deduped neuron-attribute triples (MERGE semantics).

    The one attribute-triple path, shared by the batch plan and the
    streaming ingest. Within each document the neuron mention is the
    subject and every co-mentioned attribute entity an object — Cypher's
    per-row ``MATCH (n:Neuron {..}) MATCH (g {name: ..})`` pattern
    (reference ``neo4j_operations.py:216-221``). The pairing happens inside
    the extraction row (``mentions.attribute_pairs_from_extracted``), so no
    corpus-scale doc_id join runs; both surfaces then link against
    ``entities``, whose ids must already be canonical.
    """
    pairs = mentions.attribute_pairs_from_extracted(extracted)
    for side in ("subj", "obj"):
        pairs = (
            linking.link_mentions(
                pairs.withColumnRenamed(f"{side}_surface", "surface"),
                entities,
                strategy=strategy,
                salt_buckets=salt_buckets,
            )
            .withColumnRenamed("entity_id", side)
            .drop("surface", "entity_type")
        )
    return neuron_attribute_triples_from_pairs(pairs)


def neuron_attribute_triples_from_pairs(pairs_linked: DataFrame) -> DataFrame:
    """Linked per-document pairs (subj, kind, obj) -> deduped attribute triples.

    Both surfaces are already linked/canonicalized, so all that remains is
    the kind→predicate map and the MERGE dedup. The dropDuplicates is the
    only exchange in the whole branch, and partial aggregation shrinks it
    to the distinct triple set (dimension-sized) before any bytes move.
    Output is row-identical to a doc_id self-join of linked mentions
    (tests/test_triples_golden.py keeps that join as its reference).
    """
    pred_map = F.create_map(
        *[x for k, v in ATTRIBUTE_PREDICATES.items() for x in (F.lit(k), F.lit(v))]
    )
    return (
        pairs_linked.select(
            "subj", pred_map[F.col("kind")].alias("pred"), "obj"
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


def neuron_properties(linked: DataFrame, extracted: DataFrame) -> DataFrame:
    """Per-neuron property map ≙ the reference's ``SET n += node``.

    Two value sources, unioned per document and keyed to the document's
    neuron mention:

    * co-mentioned entities (mtype/etype/sclass/population/morphology) —
      the canonical entity id sans type prefix;
    * plain attribute spans (layer/region) from the extraction frame's
      ``node_attrs`` map — these are properties only, never dictionary
      entities (reference stores them as h5 datasets, nodes_A.h5.txt).

    Conflicting values for one (neuron, key) resolve to ``max`` —
    deterministic under any partitioning, unlike the reference's
    last-write-wins ``SET n +=`` which depends on UNWIND order.

    Output: (entity_id, properties map<string,string>).
    """
    subjects = linked.where(F.col("kind") == "neuron").select(
        "doc_id", F.col("entity_id").alias("entity_id")
    )
    key_map = F.create_map(
        *[x for k, v in PROPERTY_KEYS.items() for x in (F.lit(k), F.lit(v))]
    )
    from_entities = linked.where(F.col("kind") != "neuron").select(
        "doc_id",
        key_map[F.col("kind")].alias("key"),
        _strip_entity_prefix(F.col("entity_id")).alias("value"),
    ).where(F.col("key").isNotNull())
    from_attrs = extracted.select(
        "doc_id", F.explode("node_attrs").alias("key", "value")
    )
    pairs = from_entities.unionByName(from_attrs)
    return (
        subjects.join(pairs, "doc_id")
        .groupBy("entity_id", "key")
        .agg(F.max("value").alias("value"))
        .groupBy("entity_id")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("key", "value")))
            ).alias("properties")
        )
    )


def population_properties(linked: DataFrame) -> DataFrame:
    """Per-population property map ≙ ``SET p += population``
    (neo4j_operations.py:316; payload built at data_extraction.py:66-72:
    {name, size}). Size = distinct member neurons observed in the corpus —
    the document-world analogue of ``population.size``. String-typed map
    (Neo4j properties are heterogeneous; typed columns live in the flat
    contract queries).
    """
    pops = linked.where(F.col("kind") == "population").select(
        "doc_id", F.col("entity_id").alias("entity_id")
    )
    members = linked.where(F.col("kind") == "neuron").select(
        "doc_id", F.col("entity_id").alias("member_id")
    )
    return (
        pops.join(members, "doc_id")
        .groupBy("entity_id")
        .agg(F.countDistinct("member_id").alias("size"))
        .select(
            "entity_id",
            F.map_from_entries(
                F.array(
                    F.struct(
                        F.lit("name").alias("key"),
                        _strip_entity_prefix(F.col("entity_id")).alias("value"),
                    ),
                    F.struct(
                        F.lit("size").alias("key"),
                        F.col("size").cast("string").alias("value"),
                    ),
                )
            ).alias("properties"),
        )
    )


def node_properties(linked: DataFrame, extracted: DataFrame) -> DataFrame:
    """Union of neuron + population property payloads, one row per node."""
    return neuron_properties(linked, extracted).unionByName(
        population_properties(linked)
    )


def node_table(linked: DataFrame) -> DataFrame:
    """All distinct graph nodes with labels — the ``nodes`` output table.

    Labels ≙ reference node labels: Neuron (neo4j_operations.py:338),
    NodeGroup:MType / NodeGroup:SClass (:186), Population (:312).
    """
    label_map = F.create_map(
        F.lit("neuron"), F.lit("Neuron"),
        F.lit("mtype"), F.lit("MType"),
        F.lit("etype"), F.lit("EType"),
        F.lit("sclass"), F.lit("SClass"),
        F.lit("population"), F.lit("Population"),
        F.lit("media"), F.lit("Morphology"),
    )
    return (
        linked.select(F.col("entity_id"), label_map[F.col("kind")].alias("label"))
        .where(F.col("label").isNotNull())
        .dropDuplicates(["entity_id"])
    )
