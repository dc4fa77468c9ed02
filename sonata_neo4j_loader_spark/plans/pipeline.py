"""The full KG-construction plan: documents -> triples.

Mirrors the reference's ``load_circuit`` lifecycle (SURVEY.md §3.1) as
DataFrame lineage: steps that the reference serializes over Bolt
round-trips (nodegroup nodes → neuron nodes → membership edges → synapse
edges → aggregates) become parallel branches off shared cached frames.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregate, canonicalize, linking, mentions, parse, sampling, triples
from ..sinks import materialize as mat


#: Sampling seed for both ``sample_by_hash`` calls — the reference fixes
#: it too (data_extraction.py:74).
SAMPLE_SEED = 42


@dataclass
class PipelineConfig:
    """≙ the reference's env config (main.py:16-18)."""

    node_proportion: float = 1.0
    edge_proportion: float = 1.0
    node_set_pops: list[str] | None = None
    # 'native' (pure-JVM regexp, default) | 'arrow' (pandas-UDF batches).
    # The two are row-identical (tests/test_triples_golden.py runs both).
    # The default is native per guide §4.1 — prefer built-ins over any
    # Python boundary: at 10M docs/local[32] the
    # full leg measured 48.5/48.6 s (native, back-to-back) vs 55.6/61.4 s
    # (arrow), and native removes the ArrowEvalPython node plus the Python
    # worker pool's scheduling variance from the hot path entirely.
    mention_impl: str = "native"  # 'native' | 'arrow'
    link_strategy: str = "broadcast"  # 'broadcast' | 'salted'


def build_triples(
    spark: SparkSession,
    documents: DataFrame,
    entities: DataFrame,
    alias_edges: DataFrame | None,
    config: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    """Run the six-stage plan; returns the output table family.

    Returns dict with:
      * ``nodes``  — (entity_id, label, properties map) — the map carries
        the full per-node payload ≙ ``SET n += node`` / ``SET p +=
        population`` (neo4j_operations.py:339,316)
      * ``attribute_triples`` — deduped neuron-attribute triples
      * ``synapse_triples``   — multiset SYNAPSES_ONTO with props
      * ``aggregate_triples`` — AGGREGATED_SYNAPSE_* rows
      * ``node_properties``   — (entity_id, properties) of the nodes that
        carry a payload: a projection of ``nodes``
      * ``invariant_violations`` — docs whose span sequence broke (audit)
    """
    cfg = config or PipelineConfig()

    # Canonicalization moved INTO the dictionary (optimization r06, guide
    # §2.4 — remove shuffle-stage work outright): the r05 shape linked
    # every corpus-scale frame against the raw dictionary and then applied
    # the alias→canonical rewrite to each output (five broadcast left
    # joins over ~25M-row frames at sf1.0). Rewriting the DICTIONARY's
    # entity ids once — a dimension-sized join — makes every link output
    # canonical by construction: link(x, canonical(entities)) is
    # row-identical to canonical(link(x, entities)) because the rewrite is
    # applied per matched dictionary row either way. The per-frame
    # apply_canonical_mapping calls are gone from the hot path.
    if alias_edges is not None:
        mapping = canonicalize.connected_components(alias_edges)
        entities = canonicalize.apply_canonical_mapping(entities, mapping, "entity_id")

    # The dictionary is dimension-sized and reused by three link passes —
    # persist() it. persist (not localCheckpoint) matters: with AQE on,
    # even a *lazy* localCheckpoint executes every upstream query stage at
    # DAG-build time (AdaptiveSparkPlanExec materializes intermediate
    # stages on toRdd), serializing the pipeline; persist stays truly
    # lazy, keeps the plan Catalyst-visible, and lets one final action
    # fuse + share everything.
    entities = entities.persist()

    # stage 1: parse + invariant audit
    parsed = parse.parse_documents(documents)
    parsed = parsed.where(F.col("spans_valid"))
    violations = parse.audit_span_invariant(documents, parsed.select("doc_id", "spans"))

    # stage 2: mention detection (native JVM regexps by default). ONE
    # fused pass over the text into a compact extraction frame, persisted
    # — the mention and synapse branches then each read ~100×-smaller rows
    # instead of re-scanning + re-parsing + re-regexing the corpus once
    # per branch. Persisting the *extraction* (not the parsed text) is the
    # 100 TB-safe choice: it's dimension-sized relative to the corpus.
    extracted = mentions.extract_documents(parsed, impl=cfg.mention_impl).persist()
    synapse_rows = mentions.synapses_from_extracted(extracted)

    # stages 3-5 link against the canonical dictionary (the alias→canonical
    # rewrite already happened dictionary-side above, so linked ids are
    # canonical by construction). No corpus-scale frame of linked mentions
    # exists: each branch links the narrowest rows it needs — distinct
    # surfaces, per-row neuron×attribute pairs, synapse endpoints.

    # stage 5a: neuron universe + sampling / node-set restriction. Only the
    # neuron-kind mentions are exploded, and their distinct SURFACES are
    # linked: the distinct map-side-combines to a dictionary-sized set
    # before the join, and distinct-before-join equals distinct-after-join
    # for an inner equi-join keyed on the distinct column.
    neuron_surf = (
        extracted.select(
            F.explode(
                F.filter(F.col("mentions"), lambda m: m["kind"] == F.lit("neuron"))
            ).alias("_m")
        )
        .select(F.col("_m.surface").alias("surface"))
        .distinct()
    )
    neurons = (
        linking.link_surfaces(neuron_surf, entities, cfg.link_strategy)
        .select(F.col("entity_id").alias("neuron_id"))
        .distinct()
    )
    neurons = sampling.filter_node_set(neurons, cfg.node_set_pops)
    neurons = sampling.sample_by_hash(
        neurons, "neuron_id", cfg.node_proportion, SAMPLE_SEED
    )
    neurons = neurons.persist()

    # stage 5b: attribute triples, restricted to surviving neurons.
    # Pair-first shape (triples.linked_attribute_pairs): subject×object
    # pairing happens INSIDE each extraction row, both surfaces link via
    # broadcast, and the MERGE dedup is the branch's only exchange — it
    # shuffles the distinct triple set, never every mention row. The
    # unsampled pairs also feed the node payloads below.
    pairs = triples.linked_attribute_pairs(extracted, entities, cfg.link_strategy)
    attr = triples.neuron_attribute_triples_from_pairs(pairs).join(
        F.broadcast(neurons.withColumnRenamed("neuron_id", "subj")), "subj", "left_semi"
    ).persist()

    # stage 5c: synapse endpoints -> canonical ids -> endpoint-existence joins
    both_link = linking.link_columns(
        synapse_rows,
        entities,
        {"src_surface": "src_id", "tgt_surface": "tgt_id"},
        cfg.link_strategy,
    )
    syn = triples.synapse_triples(both_link, neurons)
    syn = sampling.sample_by_hash(syn, "doc_id", cfg.edge_proportion, SAMPLE_SEED)
    syn = syn.persist()

    # stage 5d: aggregates per group attribute — rich for MTYPE, plain for
    # SCLASS. The default (avg conductance/delay) MTYPE variant is a pure
    # projection of the rich result: deriving it there instead of
    # re-joining + re-aggregating the synapse frame saves one full pass
    # (same grouping key, identical values).
    def groups(pred: str) -> DataFrame:
        return attr.where(F.col("pred") == pred).select(
            F.col("subj").alias("neuron_id"), F.col("obj").alias("group")
        )

    # persist: two consumers (the projection below + the rich frame
    # itself), group-pair-sized output — without it the aggregation pass
    # over the synapse frame would run once per consumer
    rich = aggregate.rich_aggregated_synapse_triples(
        syn, groups("HAS_MTYPE"), "MTYPE"
    ).persist()
    agg_frames = [
        rich.select(
            "subj",
            F.lit("AGGREGATED_SYNAPSE_MTYPE").alias("pred"),
            "obj",
            "n_synapses",
            "avg_conductance",
            "avg_delay",
        ),
        rich,
        aggregate.aggregated_synapse_triples(syn, groups("HAS_SCLASS"), "SCLASS"),
    ]

    # nodes + payloads (SET n += node / SET p += population) from the same
    # unsampled pairs: dimension-sized (one row per graph node), no doc_id
    # join. NOT persisted: persist() plans eagerly, and a caller that only
    # plans or never reads `nodes` would pay for it.
    nodes = triples.nodes_from_pairs(pairs, extracted, entities, cfg.link_strategy)

    return {
        "nodes": nodes,
        "attribute_triples": attr,
        "synapse_triples": syn,
        "aggregate_triples": agg_frames,
        "node_properties": nodes.where(F.col("properties").isNotNull()).select(
            "entity_id", "properties"
        ),
        "invariant_violations": violations,
    }


def materialize_outputs(
    outputs: dict[str, DataFrame], root: str, num_buckets: int = 64
) -> dict[str, mat.MaterializeReport]:
    """Stage 6 — commit the table family with per-partition lineage.

    Each logical table gets its own bucketed-Parquet + manifest directory
    (≙ the reference's constraint keys, scripts/load_circuit.py:30-36:
    nodes key on entity_id, edges on their endpoint pair). Re-running after
    a kill resumes: finished partitions are fingerprint-matched and skipped
    (see sinks/materialize.py).
    """
    agg_all = outputs["aggregate_triples"]
    agg_union = agg_all[0].select("subj", "pred", "obj")
    for a in agg_all[1:]:
        agg_union = agg_union.unionByName(a.select("subj", "pred", "obj"))
    jobs = {
        "nodes": (outputs["nodes"], ["entity_id"]),
        "attribute_triples": (outputs["attribute_triples"], ["subj"]),
        "synapse_triples": (
            outputs["synapse_triples"].select("doc_id", "subj", "pred", "obj", "props"),
            ["subj", "obj"],
        ),
        "aggregate_triples": (agg_union, ["subj", "obj"]),
    }
    return {
        name: mat.materialize(df, f"{root}/{name}", keys, num_buckets, stage=name)
        for name, (df, keys) in jobs.items()
    }


def dry_run_report(outputs: dict[str, DataFrame]) -> dict[str, int]:
    """Would-be write sizes, no writes — the batch replacement for the
    reference's interactive confirmation gate (data_extraction.py:125-134,
    ``input("Do you want to proceed …")`` before the edge import). A
    distributed job can't block on stdin; instead callers inspect this
    report and re-run with lower ``edge_proportion``/``node_proportion``
    if the sizes are unacceptable. The attribute, synapse and MTYPE
    aggregate counts read the pipeline's persisted frames. ``nodes``, the
    SCLASS aggregate and ``invariant_violations`` are not persisted, so
    their counts re-run their plans: ``nodes`` re-links the distinct
    mention surfaces and the neuron×attribute pairs of the persisted
    extraction frame, the SCLASS aggregate re-joins the persisted synapse
    frame, and the audit re-parses the input documents.
    """
    return {
        "nodes": outputs["nodes"].count(),
        "attribute_triples": outputs["attribute_triples"].count(),
        "synapse_triples": outputs["synapse_triples"].count(),
        "aggregate_triples": sum(a.count() for a in outputs["aggregate_triples"]),
        "invariant_violations": outputs["invariant_violations"].count(),
    }


def all_plain_triples(outputs: dict[str, DataFrame]) -> DataFrame:
    """Union every (subj, pred, obj) for P/R scoring."""
    frames = [
        outputs["attribute_triples"].select("subj", "pred", "obj"),
        outputs["synapse_triples"].select("subj", "pred", "obj"),
        *[a.select("subj", "pred", "obj") for a in outputs["aggregate_triples"]],
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
