"""End-to-end golden test: fixture documents -> exact reference triple sets.

The expectation (FIXTURES.md §5) is derived from the reference's Cypher
semantics, computed independently in plain Python
(``datagen/fixture.golden_triples``) — P/R must be 1.0 at fixture scale.
"""

from __future__ import annotations

import pytest

from sonata_neo4j_loader_spark.datagen import documents as dg
from sonata_neo4j_loader_spark.datagen import fixture
from sonata_neo4j_loader_spark.plans import pipeline


# both mention impls, and the salted link strategy end to end
_CONFIGS = {
    "arrow": pipeline.PipelineConfig(mention_impl="arrow"),
    "native": pipeline.PipelineConfig(mention_impl="native"),
    "salted": pipeline.PipelineConfig(link_strategy="salted"),
}


@pytest.fixture(scope="module", params=list(_CONFIGS))
def outputs(request, spark):
    docs = dg.fixture_documents(spark)
    return pipeline.build_triples(
        spark,
        docs,
        dg.fixture_entities(spark),
        dg.fixture_alias_edges(spark),
        _CONFIGS[request.param],
    )


def _collect_triples(df):
    return [(r["subj"], r["pred"], r["obj"]) for r in df.collect()]


def test_span_invariant_holds(outputs):
    assert outputs["invariant_violations"].count() == 0


def test_output_counts(outputs):
    # 5 neurons × 5 attribute predicates (MERGE: no duplicate rows), and
    # the 16-row SYNAPSES_ONTO multiset
    assert outputs["attribute_triples"].count() == 25
    assert outputs["synapse_triples"].count() == 16


def test_merge_predicates_exact(outputs):
    golden = fixture.golden_triples()
    got = _collect_triples(outputs["attribute_triples"])
    for pred in ["HAS_MTYPE", "HAS_SCLASS", "HAS_ETYPE", "BELONGS_TO", "HAS_MORPHOLOGY"]:
        expected = golden[pred]
        actual = {t for t in got if t[1] == pred}
        assert actual == expected, f"{pred}: {actual ^ expected}"


def test_synapses_multiset_exact(outputs):
    golden = fixture.golden_triples()
    actual = sorted(_collect_triples(outputs["synapse_triples"]))
    assert actual == golden["SYNAPSES_ONTO"]


def test_precision_no_noise_entities(outputs):
    # Noise docs must contribute zero triples ("NodeZ#9" is not in the dict).
    triples = _collect_triples(outputs["attribute_triples"]) + _collect_triples(
        outputs["synapse_triples"]
    )
    assert all("NodeZ" not in s and "NodeQ" not in o for s, _p, o in triples)


def test_canonicalization_folds_aliases(outputs):
    # Alias docs (lowercase surfaces) must land on canonical ids: no
    # lowercase population/neuron entities anywhere in the output.
    for s, _p, o in _collect_triples(outputs["attribute_triples"]):
        assert "nodea" not in s and "nodeb" not in s, s
        assert "nodea" not in o and "nodeb" not in o, o


def test_node_table_labels(outputs):
    rows = {(r["entity_id"], r["label"]) for r in outputs["nodes"].collect()}
    assert ("neuron:NodeA:0", "Neuron") in rows
    assert ("mtype:L4_PC", "MType") in rows
    assert ("pop:NodeA", "Population") in rows
    assert ("sclass:INH", "SClass") in rows
    # canonicalization: variant ids folded away
    assert not any(e.startswith("neuron:nodea") for e, _ in rows)


def test_node_properties_payload(outputs):
    """≙ ``SET n += node`` / ``SET p += population``
    (neo4j_operations.py:339,316): every discovered attribute lands on the
    node — layer/region (plain property spans), morphology, mtype, etype,
    synapse_class, population_name. Runs under both mention impls, so
    arrow/native parity of the node_attrs extraction is covered too."""
    props = {r["entity_id"]: r["properties"] for r in outputs["node_properties"].collect()}
    for pop, nid, mtype, etype, sclass, layer, region, morph in fixture.NEURONS:
        p = props[fixture.neuron_entity(pop, nid)]
        assert p == {
            "layer": layer,
            "region": region,
            "morphology": morph,
            "mtype": mtype,
            "etype": etype,
            "synapse_class": sclass,
            "population_name": pop,
        }
    pop_sizes: dict[str, int] = {}
    for pop, *_ in fixture.NEURONS:
        pop_sizes[pop] = pop_sizes.get(pop, 0) + 1
    for pop, size in pop_sizes.items():
        assert props[f"pop:{pop}"] == {"name": pop, "size": str(size)}
    # the nodes table carries the same map
    node_rows = {r["entity_id"]: r for r in outputs["nodes"].collect()}
    assert node_rows["neuron:NodeA:0"]["properties"]["layer"] == "LA"
    assert node_rows["pop:NodeA"]["properties"]["size"] == "3"


def test_node_properties_on_synthetic_corpus(spark):
    """The properties path must also work on the distributed generator
    (the 10^12-doc shape), not just the fixture: every synthetic neuron
    node carries the full attribute map with the hash-derived values the
    generator grammar promises."""
    from pyspark.sql import functions as F

    docs = dg.synthetic_documents(
        spark, n_node_docs=200, n_edge_docs=50, n_noise_docs=20,
        n_populations=2, neurons_per_pop=50,
    )
    out = pipeline.build_triples(
        spark,
        docs,
        dg.synthetic_entities(spark, n_populations=2, neurons_per_pop=50),
        dg.synthetic_alias_edges(spark, n_populations=2, neurons_per_pop=50),
    )
    rows = out["node_properties"].where(
        F.col("entity_id").startswith("neuron:")
    ).collect()
    assert len(rows) == 100  # 2 pops x 50 neurons, aliases folded
    for r in rows:
        p = r["properties"]
        assert set(p) == {
            "layer", "region", "morphology", "mtype", "etype",
            "synapse_class", "population_name",
        }, r["entity_id"]
        assert p["layer"].startswith("L") and p["region"].startswith("R")
        assert p["population_name"] == r["entity_id"].split(":")[1]


def test_aggregated_synapse_mtype(outputs):
    golden = fixture.golden_aggregates("mtype")
    agg = next(
        df
        for df in outputs["aggregate_triples"]
        if df.select("pred").first()["pred"] == "AGGREGATED_SYNAPSE_MTYPE"
    )
    rows = {(r["subj"], r["obj"]): r for r in agg.collect()}
    assert set(rows) == {
        (f"mtype:{a}", f"mtype:{b}") for a, b in golden
    }
    for (a, b), stats in golden.items():
        r = rows[(f"mtype:{a}", f"mtype:{b}")]
        assert r["n_synapses"] == stats["n_synapses"]
        assert r["avg_conductance"] == pytest.approx(stats["avg_conductance"], abs=1e-9)
        assert r["avg_delay"] == pytest.approx(stats["avg_delay"], abs=1e-9)


def test_aggregated_synapse_sclass(outputs):
    golden = fixture.golden_aggregates("synapse_class")
    agg = next(
        df
        for df in outputs["aggregate_triples"]
        if df.select("pred").first()["pred"] == "AGGREGATED_SYNAPSE_SCLASS"
    )
    rows = {(r["subj"], r["obj"]): r for r in agg.collect()}
    assert set(rows) == {(f"sclass:{a}", f"sclass:{b}") for a, b in golden}
    # FIXTURES.md §5: exactly EXC→INH, INH→EXC, EXC→EXC
    assert len(rows) == 3


def test_rich_aggregates(outputs):
    golden = fixture.golden_aggregates("mtype")
    agg = next(
        df
        for df in outputs["aggregate_triples"]
        if df.select("pred").first()["pred"] == "AGGREGATED_SYNAPSE_RICH_MTYPE"
    )
    rows = {(r["subj"], r["obj"]): r for r in agg.collect()}
    assert set(rows) == {(f"mtype:{a}", f"mtype:{b}") for a, b in golden}
    for (a, b), stats in golden.items():
        r = rows[(f"mtype:{a}", f"mtype:{b}")]
        assert r["n_synapses"] == stats["n_synapses"]
        for m in fixture.EDGE_PROPS:
            assert r[f"avg_{m}"] == pytest.approx(stats[f"avg_{m}"], abs=1e-9), m
        dist = r["afferent_distribution"]
        assert dist == pytest.approx(stats["afferent_distribution"])


def test_all_plain_triples_is_every_golden_triple(outputs):
    """``all_plain_triples`` (what ``entry()`` returns) is exactly the golden
    attribute sets, the SYNAPSES_ONTO multiset and one row per aggregated
    group pair of each aggregate table, with no row lost or repeated."""
    want = [t for ts in fixture.golden_triples().values() for t in ts]
    for pred, attr, prefix in [
        ("AGGREGATED_SYNAPSE_MTYPE", "mtype", "mtype"),
        ("AGGREGATED_SYNAPSE_RICH_MTYPE", "mtype", "mtype"),
        ("AGGREGATED_SYNAPSE_SCLASS", "synapse_class", "sclass"),
    ]:
        want += [(f"{prefix}:{a}", pred, f"{prefix}:{b}") for a, b in fixture.golden_aggregates(attr)]
    got = _collect_triples(pipeline.all_plain_triples(outputs))
    assert sorted(got) == sorted(want)


def test_rich_aggregate_null_afferent_type(spark):
    # untyped synapses count towards n_synapses and every average but get
    # no distribution entry; a pair with no typed synapse keeps a NULL map
    from sonata_neo4j_loader_spark.operators import aggregate

    props = {"conductance": 1.0, "delay": 2.0}
    synapses = spark.createDataFrame(
        [
            ("n1", "n2", props, "soma"),
            ("n1", "n2", {"conductance": 2.0, "delay": 2.0}, "soma"),
            ("n1", "n2", {"conductance": 6.0, "delay": 2.0}, None),
            ("n1", "n3", props, None),
            ("n1", "n3", props, None),
        ],
        "subj string, obj string, props map<string,double>, "
        "afferent_section_type string",
    )
    groups = spark.createDataFrame(
        [("n1", "A"), ("n2", "B"), ("n3", "C")], "neuron_id string, group string"
    )
    rows = {
        (r["subj"], r["obj"]): r
        for r in aggregate.rich_aggregated_synapse_triples(synapses, groups).collect()
    }
    assert set(rows) == {("A", "B"), ("A", "C")}
    typed, untyped = rows[("A", "B")], rows[("A", "C")]
    assert typed["n_synapses"] == 3
    assert typed["avg_conductance"] == pytest.approx(3.0)
    assert typed["afferent_distribution"] == pytest.approx({"soma": 2 / 3})
    assert untyped["n_synapses"] == 2
    assert untyped["afferent_distribution"] is None
    assert untyped["avg_u_syn"] is None


def _self_join_attribute_triples(linked):
    """Reference: pair every neuron mention with every co-mentioned
    attribute entity of the same doc_id (Cypher's per-row MATCH pattern as
    a self-join), then map kind -> predicate and MERGE-dedup."""
    from pyspark.sql import functions as F

    from sonata_neo4j_loader_spark.operators import triples

    subjects = linked.where(F.col("kind") == "neuron").select(
        "doc_id", F.col("entity_id").alias("subj")
    )
    pred_map = F.create_map(
        *[x for k, v in triples.ATTRIBUTE_PREDICATES.items()
          for x in (F.lit(k), F.lit(v))]
    )
    objects = linked.where(F.col("kind") != "neuron").select(
        "doc_id",
        pred_map[F.col("kind")].alias("pred"),
        F.col("entity_id").alias("obj"),
    )
    return (
        subjects.join(objects, "doc_id")
        .select("subj", "pred", "obj")
        .where(F.col("pred").isNotNull())
        .dropDuplicates(["subj", "pred", "obj"])
    )


def test_pair_first_attr_equals_self_join_shape(spark):
    # the pair-first attribute path (pairing inside the extraction row,
    # linking against the canonicalized dictionary) must be row-identical
    # to the doc_id self-join over linked mentions canonicalized after
    # linking, on a corpus with aliases, media refs, multi-neuron docs and
    # noise — both on fixture docs and a synthetic slice
    from pyspark.sql import functions as F

    from sonata_neo4j_loader_spark.operators import (
        canonicalize, linking, mentions, parse, triples,
    )

    for docs, entities, aliases in [
        (
            dg.fixture_documents(spark),
            dg.fixture_entities(spark),
            dg.fixture_alias_edges(spark),
        ),
        (
            dg.synthetic_documents(spark, 400, 500, 100, n_populations=4,
                                   neurons_per_pop=50),
            dg.synthetic_entities(spark, n_populations=4, neurons_per_pop=50),
            dg.synthetic_alias_edges(spark, n_populations=4, neurons_per_pop=50),
        ),
    ]:
        parsed = parse.parse_documents(docs).where(F.col("spans_valid"))
        ext = mentions.extract_documents(parsed)
        mapping = canonicalize.connected_components(aliases)

        linked = canonicalize.apply_canonical_mapping(
            linking.link_mentions(mentions.mentions_from_extracted(ext), entities),
            mapping, "entity_id",
        )
        old = {(r.subj, r.pred, r.obj)
               for r in _self_join_attribute_triples(linked).collect()}

        canonical = canonicalize.apply_canonical_mapping(entities, mapping, "entity_id")
        new = {(r.subj, r.pred, r.obj)
               for r in triples.attribute_triples(ext, canonical).collect()}

        assert new == old
        assert len(new) > 0


def _doc_id_join_node_outputs(linked, extracted):
    """Reference: the node outputs as a doc_id join over every linked
    mention. Labels come from the mention kind, a neuron's properties pair
    it with every co-mentioned entity and plain attribute span of its
    doc_id, and a population's size counts the neurons co-mentioned with
    it. Returns (nodes, node_properties)."""
    from pyspark.sql import functions as F

    from sonata_neo4j_loader_spark.operators import triples

    def lookup(mapping, col):
        return F.create_map(*[x for k, v in mapping.items() for x in (F.lit(k), F.lit(v))])[col]

    def strip(col):
        return F.regexp_replace(col, "^[^:]+:", "")

    kind_labels = {
        "neuron": "Neuron", "mtype": "MType", "etype": "EType", "sclass": "SClass",
        "population": "Population", "media": "Morphology",
    }
    labels = (
        linked.select("entity_id", lookup(kind_labels, F.col("kind")).alias("label"))
        .where(F.col("label").isNotNull())
        .dropDuplicates(["entity_id"])
    )
    neurons = linked.where(F.col("kind") == "neuron").select("doc_id", "entity_id")
    from_entities = linked.where(F.col("kind") != "neuron").select(
        "doc_id",
        lookup(triples.PROPERTY_KEYS, F.col("kind")).alias("key"),
        strip(F.col("entity_id")).alias("value"),
    ).where(F.col("key").isNotNull())
    from_attrs = extracted.select("doc_id", F.explode("node_attrs").alias("key", "value"))
    neuron_props = (
        neurons.join(from_entities.unionByName(from_attrs), "doc_id")
        .groupBy("entity_id", "key")
        .agg(F.max("value").alias("value"))
        .groupBy("entity_id")
        .agg(F.map_from_entries(F.sort_array(F.collect_list(F.struct("key", "value"))))
             .alias("properties"))
    )
    pops = linked.where(F.col("kind") == "population").select("doc_id", "entity_id")
    pop_props = (
        pops.join(neurons.withColumnRenamed("entity_id", "member_id"), "doc_id")
        .groupBy("entity_id")
        .agg(F.countDistinct("member_id").alias("size"))
        .select("entity_id", F.create_map(
            F.lit("name"), strip(F.col("entity_id")),
            F.lit("size"), F.col("size").cast("string"),
        ).alias("properties"))
    )
    props = neuron_props.unionByName(pop_props)
    return labels.join(props, "entity_id", "left"), props


def _rows(df):
    return sorted(
        tuple(sorted(v.items()) if isinstance(v, dict) else v for v in r)
        for r in df.collect()
    )


def _synthetic(spark):
    kw = {"n_populations": 3, "neurons_per_pop": 40}
    return (
        dg.synthetic_documents(spark, 300, 100, 30, **kw),
        dg.synthetic_entities(spark, **kw),
        dg.synthetic_alias_edges(spark, **kw),
    )


def _fixture(spark):
    return (
        dg.fixture_documents(spark),
        dg.fixture_entities(spark),
        dg.fixture_alias_edges(spark),
    )


@pytest.mark.parametrize(
    "corpus, cfg",
    [
        (_fixture, pipeline.PipelineConfig(mention_impl="native")),
        (_fixture, pipeline.PipelineConfig(mention_impl="arrow")),
        (_fixture, pipeline.PipelineConfig(link_strategy="salted")),
        (_synthetic, pipeline.PipelineConfig()),
        # node payloads do not depend on neuron sampling
        (_fixture, pipeline.PipelineConfig(node_proportion=0.5)),
        (_fixture, pipeline.PipelineConfig(node_set_pops=["NodeA"])),
    ],
    ids=[
        "fixture-native", "fixture-arrow", "fixture-salted", "synthetic", "sampled",
        "node-set",
    ],
)
def test_nodes_equal_doc_id_join_reference(spark, corpus, cfg):
    from pyspark.sql import functions as F

    from sonata_neo4j_loader_spark.operators import canonicalize, linking, mentions, parse

    docs, entities, aliases = corpus(spark)
    out = pipeline.build_triples(spark, docs, entities, aliases, cfg)

    parsed = parse.parse_documents(docs).where(F.col("spans_valid"))
    ext = mentions.extract_documents(parsed, impl=cfg.mention_impl)
    canonical = canonicalize.apply_canonical_mapping(
        entities, canonicalize.connected_components(aliases), "entity_id"
    )
    linked = linking.link_mentions(mentions.mentions_from_extracted(ext), canonical)
    ref_nodes, ref_props = _doc_id_join_node_outputs(linked, ext)

    nodes = _rows(out["nodes"])
    assert nodes == _rows(ref_nodes)
    assert _rows(out["node_properties"]) == _rows(ref_props)
    assert any(r[2] for r in nodes)


def test_node_label_is_the_entity_type_not_the_mention_kind(spark):
    # a neuron surface mentioned under another kind still labels the node
    # from the dictionary; the mention kind only chooses the property key
    from sonata_neo4j_loader_spark.datagen.documents import DOC_SCHEMA

    docs = spark.createDataFrame(
        [("odd-kind", [("text", "mtype NodeA#0", "", 0)])], DOC_SCHEMA
    )
    out = pipeline.build_triples(
        spark, docs, dg.fixture_entities(spark), dg.fixture_alias_edges(spark)
    )
    assert [(r["entity_id"], r["label"]) for r in out["nodes"].collect()] == [
        ("neuron:NodeA:0", "Neuron")
    ]
