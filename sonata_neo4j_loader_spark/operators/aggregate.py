"""Aggregation layer — AGGREGATED_SYNAPSE triples.

Implements the *intended* semantics of the reference's group-pair
aggregation (per-(g1,g2) averages over contributing synapses,
``circuit/neo4j_operations.py:232-261``) and the rich 11-measure +
afferent-type-distribution variant from ``scripts/load_circuit.py:502-552``.
The reference script's Cypher is bugged — it keeps the edge variable ``r``
in the ``WITH`` grouping key (load_circuit.py:514) so each "average" is a
single edge; SURVEY.md §3.2 flags this, and tests here pin the intended
per-pair behavior instead.

Physical shape: synapses (fact) join the neuron→group map (dimension,
broadcast) twice, then hash aggregation. The plain variant aggregates once
on the pair key: one shuffle on (src_group, tgt_group). The rich variant
aggregates twice, on (pair, afferent type) and then on the pair, with no
join after either aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RICH_MEASURES = [
    "branch_order",
    "conductance",
    "conductance_scale_factor",
    "decay_time",
    "delay",
    "depression_time",
    "facilitation_time",
    "n_rrp_vesicles",
    "spine_length",
    "u_hill_coefficient",
    "u_syn",
]


def _with_groups(
    synapses: DataFrame, neuron_groups: DataFrame, broadcast_groups: bool = True
) -> DataFrame:
    """Attach src_group/tgt_group via the neuron→group dimension (×2 joins).

    ``neuron_groups``: (neuron_id, group) — e.g. the HAS_MTYPE triples.
    The Cypher 4-way pattern join (``neo4j_operations.py:246-250``)
    collapses to two dimension joins: the group node "join" is free
    because the group name is the key (SURVEY.md §2.4).
    """
    src = neuron_groups.select(
        F.col("neuron_id").alias("subj"), F.col("group").alias("src_group")
    )
    tgt = neuron_groups.select(
        F.col("neuron_id").alias("obj"), F.col("group").alias("tgt_group")
    )
    if broadcast_groups:
        src, tgt = F.broadcast(src), F.broadcast(tgt)
    return synapses.join(src, "subj", "inner").join(tgt, "obj", "inner")


def aggregated_synapse_triples(
    synapses: DataFrame,
    neuron_groups: DataFrame,
    group_prefix: str,
    broadcast_groups: bool = True,
) -> DataFrame:
    """Default variant: avg(conductance), avg(delay) per (g1, g2).

    ≙ ``create_nodegroup_relationships`` (neo4j_operations.py:246-252,
    invoked for mtype and synapse_class at circuit_loader.py:58-59).
    """
    joined = _with_groups(synapses, neuron_groups, broadcast_groups)
    return joined.groupBy("src_group", "tgt_group").agg(
        F.count(F.lit(1)).alias("n_synapses"),
        F.avg(F.element_at("props", "conductance")).alias("avg_conductance"),
        F.avg(F.element_at("props", "delay")).alias("avg_delay"),
    ).select(
        F.col("src_group").alias("subj"),
        F.lit(f"AGGREGATED_SYNAPSE_{group_prefix}").alias("pred"),
        F.col("tgt_group").alias("obj"),
        "n_synapses",
        "avg_conductance",
        "avg_delay",
    )


def rich_aggregated_synapse_triples(
    synapses: DataFrame,
    neuron_groups: DataFrame,
    group_prefix: str = "MTYPE",
    broadcast_groups: bool = True,
) -> DataFrame:
    """Rich variant: 11 averages + normalized afferent-type distribution map.

    ≙ intended semantics of ``scripts/load_circuit.py:511-545``: per-pair
    ``avg`` over every measure, plus ``collect(afferent_section_type)``
    reduced to a relative-frequency map (``apoc.map.fromPairs`` →
    ``map_from_entries``). Two aggregations and no join: the first groups
    on (pair, type), the second on the pair, and the distribution is the
    pair's list of level-1 (type, count) rows divided by ``n_synapses``.
    That list holds one entry per distinct type, so it is bounded by the
    type domain, not by the pair's synapse count, and a skewed pair
    cannot make it large.
    """
    joined = _with_groups(synapses, neuron_groups, broadcast_groups)

    # Level 1 aggregates at the finer key, so the fact frame is scanned
    # once and both outputs derive from a dimension-sized frame
    # (pairs × |type domain|). avg_m = sum(_sum_m) / sum(_n_m) per pair has
    # avg's semantics: nulls are ignored, and an all-null measure stays
    # null because a sum of nulls is null. Level 2 collects the typed
    # (type, count) rows in the same pass that sums the totals, so the
    # frequencies need neither a pair-total join nor a third grouping.
    level1 = joined.groupBy("src_group", "tgt_group", "afferent_section_type").agg(
        F.count(F.lit(1)).alias("_cnt"),
        *[
            F.sum(F.element_at("props", m)).alias(f"_sum_{m}")
            for m in RICH_MEASURES
        ],
        *[
            F.count(F.element_at("props", m)).alias(f"_n_{m}")
            for m in RICH_MEASURES
        ],
    )
    pairs = level1.groupBy("src_group", "tgt_group").agg(
        F.sum("_cnt").alias("n_synapses"),
        *[
            (F.sum(f"_sum_{m}") / F.sum(f"_n_{m}")).alias(f"avg_{m}")
            for m in RICH_MEASURES
        ],
        F.collect_list(
            F.when(
                F.col("afferent_section_type").isNotNull(),
                F.struct(
                    F.col("afferent_section_type").alias("type"),
                    F.col("_cnt").alias("cnt"),
                ),
            )
        ).alias("_types"),
    )
    # Untyped synapses count in n_synapses but get no map entry; a pair
    # with no typed synapse at all keeps a NULL map rather than an empty one.
    distribution = F.when(
        F.size("_types") > 0,
        F.map_from_entries(
            F.sort_array(
                F.transform(
                    "_types",
                    lambda e: F.struct(e["type"], e["cnt"] / F.col("n_synapses")),
                )
            )
        ),
    )
    return pairs.select(
        F.col("src_group").alias("subj"),
        F.lit(f"AGGREGATED_SYNAPSE_RICH_{group_prefix}").alias("pred"),
        F.col("tgt_group").alias("obj"),
        "n_synapses",
        *[f"avg_{m}" for m in RICH_MEASURES],
        distribution.alias("afferent_distribution"),
    )
