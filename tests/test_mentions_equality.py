"""Arrow vs native extraction equality on adversarial documents.

The two ``extract_documents`` impls (pandas-UDF and pure-JVM) must agree
row-for-row on every input — including the edge cases where a naive
translation diverges: a ``prop ...`` line in a document with NO synapse
statement (the arrow impl's 'synapse' substring pre-mask must be mirrored
by an explicit gate in the native impl), an ``afferent_section_type`` line
without a synapse, and layer/region attribute spans in odd contexts.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sonata_neo4j_loader_spark.datagen.documents import DOC_SCHEMA
from sonata_neo4j_loader_spark.operators import mentions, parse


def _doc(doc_id: str, *texts: str) -> tuple:
    return (
        doc_id,
        [("text", t, "", i) for i, t in enumerate(texts)],
    )


@pytest.fixture(scope="module")
def adversarial_docs(spark):
    rows = [
        # prop line, NO synapse statement: props/afferent must be null
        _doc("prop-no-syn", "prop conductance 1.250000", "afferent_section_type soma"),
        # synapse keyword present but malformed statement: endpoints null,
        # props still populated (both impls gate on the substring)
        _doc("syn-word-only", "a synapse was seen", "prop delay 0.500000"),
        # full synapse doc
        _doc("syn-full", "synapse NodeA#0 -> NodeB#1", "prop delay 2.000000"),
        # node doc with layer/region property spans
        _doc("node-attrs", "neuron NodeA#0", "layer L5", "region R03"),
        # 'layer' substring without the grammar: node_attrs must be null
        _doc("layer-word", "the layered cortex has regions"),
        # region only (mask is layer OR region)
        _doc("region-only", "region R09"),
        # duplicate map keys: both impls must keep the LAST value, and the
        # native impl must not crash with DUPLICATED_MAP_KEY
        _doc("dup-attrs", "neuron NodeA#0", "layer L5", "layer L6", "region R01"),
        _doc(
            "dup-props",
            "synapse NodeA#0 -> NodeB#1",
            "prop delay 1.000000",
            "prop delay 2.000000",
        ),
        # empty-ish noise
        _doc("noise", "nothing interesting here"),
        # Unicode whitespace, letters and digits: Python re reads \s \w \d
        # as Unicode classes, Java as ASCII, so the impls agree only
        # because the patterns spell the ASCII classes out
        _doc("nbsp-kind", "neuron\u00a0NodeA#0"),
        _doc("emsp-kind", "mtype\u2003L5_TPC"),
        _doc("nbsp-after-surface", "neuron NodeA#0\u00a0layer L5"),
        _doc("nbsp-arrow", "synapse NodeA#0\u00a0->\u00a0NodeB#1"),
        _doc("unicode-prop-key", "synapse NodeA#0 -> NodeB#1", "prop d\u00e9lai 1.0"),
        # Java 17's \b counts é as a word character
        _doc("letter-before-kind", "\u00e9neuron NodeA#0"),
        _doc("vt-kind", "neuron\x0bNodeA#0", "region\x0bR02"),
        _doc("arabic-digit-endpoint", "synapse NodeA#\u0663 -> NodeB#1"),
        _doc("arabic-digit-prop", "synapse NodeA#0 -> NodeB#1", "prop delay \u0661.5"),
        _doc("unicode-afferent", "synapse NodeA#0 -> NodeB#1", "afferent_section_type s\u00f6ma"),
    ]
    return parse.parse_documents(spark.createDataFrame(rows, DOC_SCHEMA))


def _assert_impls_agree(parsed):
    a = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in mentions.extract_documents(parsed, impl="arrow").collect()
    }
    n = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in mentions.extract_documents(parsed, impl="native").collect()
    }
    assert set(a) == set(n)
    for doc_id in a:
        assert a[doc_id] == n[doc_id], doc_id


def test_arrow_native_extraction_equal(adversarial_docs):
    _assert_impls_agree(adversarial_docs)


# Grammar keywords and surfaces, ASCII and Unicode whitespace, and
# letters/digits that are word characters to Python but not to Java.
_TOKENS = st.sampled_from(
    [
        "neuron", "mtype", "etype", "sclass", "population", "synapse", "prop",
        "afferent_section_type", "layer", "region", "->", "NodeA#0", "NodeB#1",
        "#", "1.5", "-2", "delay", "L5", "d\u00e9lai", "\u00e9", "\u0663", "_",
        " ", "\t", "\n", "\x0b", "\f", "\r", "\u00a0", "\u2003",
    ]
)
_TEXTS = st.lists(_TOKENS, max_size=12).map("".join)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(st.lists(_TEXTS, min_size=1, max_size=3), min_size=1, max_size=6))
def test_arrow_native_agree_on_generated_grammar_text(spark, docs):
    rows = [_doc(f"d{i}", *texts) for i, texts in enumerate(docs)]
    _assert_impls_agree(parse.parse_documents(spark.createDataFrame(rows, DOC_SCHEMA)))


def test_prop_without_synapse_yields_null(adversarial_docs):
    for impl in ("arrow", "native"):
        row = (
            mentions.extract_documents(adversarial_docs, impl=impl)
            .where("doc_id = 'prop-no-syn'")
            .collect()[0]
        )
        assert row["synapse"]["props"] is None, impl
        assert row["synapse"]["afferent_section_type"] is None, impl


def test_node_attrs_extraction(adversarial_docs):
    for impl in ("arrow", "native"):
        rows = {
            r["doc_id"]: r["node_attrs"]
            for r in mentions.extract_documents(adversarial_docs, impl=impl).collect()
        }
        assert rows["node-attrs"] == {"layer": "L5", "region": "R03"}, impl
        assert rows["layer-word"] is None, impl
        assert rows["region-only"] == {"region": "R09"}, impl
        assert rows["noise"] is None, impl
        assert rows["dup-attrs"] == {"layer": "L6", "region": "R01"}, impl


def test_duplicate_prop_keys_keep_last(adversarial_docs):
    for impl in ("arrow", "native"):
        row = (
            mentions.extract_documents(adversarial_docs, impl=impl)
            .where("doc_id = 'dup-props'")
            .collect()[0]
        )
        assert row["synapse"]["props"] == {"delay": 2.0}, impl
