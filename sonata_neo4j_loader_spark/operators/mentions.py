"""Stage 2 — batched mention detection over parsed documents.

Finds SONATA entity mentions (neuron ids like ``NodeA#0``, mtype/etype/
sclass labels, population names, morphology media refs) and synapse
statements in document text. Two interchangeable implementations, tested
for equality:

* ``impl='native'`` (default) — pure ``pyspark.sql.functions``
  (``regexp_extract_all`` inside whole-stage codegen), the everything-JVM
  fast path.
* ``impl='arrow'`` — vectorized ``pandas_udf``: regex runs as pandas
  C-backed ``str.findall`` over Arrow record batches, zero per-row Python
  loops (north rule); kept as the reference twin.

The reference has no mention detection (its entities arrive pre-structured
from HDF5, ``circuit/data_extraction.py:52-58``); the *vocabulary* of what
counts as an entity mirrors the attributes it extracts there.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# ASCII character classes, written out: Python ``re`` (the arrow impl)
# reads \s \S \w \d as Unicode classes and Java (the native impl) as
# ASCII, so NBSP or U+2003 would split a surface in one impl and not the
# other. Java 17's \b also counts letters like é as word characters;
# ``_B`` is the ASCII leading word boundary both engines agree on.
_S = r"[ \t\n\x0B\f\r]"
_NS = r"[^ \t\n\x0B\f\r]"
_W = r"[A-Za-z0-9_]"
_D = r"[0-9]"
_B = rf"(?<!{_W})"

# One mention grammar: "<kind> <surface>" produced by the document
# templates (datagen/documents.py). Kinds map 1:1 to the reference's
# node attributes + population registry.
_ENTITY_RE = rf"{_B}(neuron|mtype|etype|sclass|population){_S}+({_NS}+)"
_SYNAPSE_RE = rf"{_B}synapse{_S}+({_NS}+#{_D}+){_S}*->{_S}*({_NS}+#{_D}+)"
_PROP_RE = rf"{_B}prop{_S}+({_W}+){_S}+(-?{_D}+(?:\.{_D}+)?)"
_AFF_RE = rf"{_B}afferent_section_type{_S}+({_W}+)"
# Plain node *properties* (not entities): the reference copies these onto
# the Neuron node via ``SET n += node`` (neo4j_operations.py:339; values
# gathered at data_extraction.py:52-58). They never hit the dictionary.
_NODE_ATTR_RE = rf"{_B}(layer|region){_S}+({_NS}+)"

def _sql_re(pattern: str) -> str:
    """Escape a regex for embedding inside a SQL string literal."""
    return pattern.replace("\\", "\\\\").replace("'", "''")


MENTION_TYPE = ArrayType(
    StructType(
        [
            StructField("kind", StringType(), False),
            StructField("surface", StringType(), False),
        ]
    )
)

SYNAPSE_TYPE = StructType(
    [
        StructField("src_surface", StringType(), True),
        StructField("tgt_surface", StringType(), True),
        StructField("props", MapType(StringType(), DoubleType()), True),
        StructField("afferent_section_type", StringType(), True),
    ]
)


@pandas_udf(MENTION_TYPE)
def _extract_entity_mentions(doc_text: pd.Series) -> pd.Series:
    """Arrow-batched entity mention extraction (no per-row Python).

    ``str.findall`` rather than ``str.extractall``: identical match
    semantics (same regex engine), but extractall materializes a
    MultiIndex frame + groupby to reassemble per-row lists, which
    measured 2.7× slower on this grammar (PERF_NOTES.md round 3).
    """
    hits = doc_text.str.findall(_ENTITY_RE)
    return hits.map(
        lambda ms: [{"kind": k, "surface": s} for k, s in ms]
        if isinstance(ms, list)
        else []
    )


@pandas_udf(SYNAPSE_TYPE)
def _extract_synapse(doc_text: pd.Series) -> pd.DataFrame:
    """Arrow-batched synapse-statement parse: endpoints + numeric props.

    A vectorized substring pre-mask gates the three regex passes: docs
    without the literal ``synapse`` (typically half the corpus — node and
    noise docs) skip them entirely, which matters because the props
    ``extractall`` is the single most expensive expression in the whole
    extraction stage.
    """
    mask = doc_text.str.contains("synapse", regex=False).fillna(False)
    sub = doc_text[mask]
    ends_sub = (
        sub.str.extract(_SYNAPSE_RE)
        if not sub.empty
        else pd.DataFrame(columns=[0, 1], dtype=object)
    )
    ends = ends_sub.reindex(doc_text.index)
    props = pd.Series([None] * len(doc_text), index=doc_text.index, dtype=object)
    if not sub.empty:
        # findall (not extractall): the props pass is the single hottest
        # expression in the whole extraction stage and extractall's
        # MultiIndex+groupby reassembly measured 4.5× slower for the same
        # matches (PERF_NOTES.md round 3); duplicate keys keep the LAST
        # value either way (dict() over ordered pairs)
        fa = sub.str.findall(_PROP_RE)
        props.loc[sub.index] = fa.map(
            lambda ms: {k: float(v) for k, v in ms}
            if isinstance(ms, list) and ms
            else None
        )
    aff = pd.Series([None] * len(doc_text), index=doc_text.index, dtype=object)
    if not sub.empty:
        aff_sub = sub.str.extract(_AFF_RE)[0]
        aff.loc[aff_sub.index] = aff_sub
    return pd.DataFrame(
        {
            "src_surface": ends[0],
            "tgt_surface": ends[1],
            "props": props,
            "afferent_section_type": aff,
        },
        index=doc_text.index,
    )


@pandas_udf(MapType(StringType(), StringType()))
def _extract_node_attrs(doc_text: pd.Series) -> pd.Series:
    """Arrow-batched layer/region property extraction.

    Same substring pre-mask pattern as :func:`_extract_synapse`: only docs
    containing one of the attribute keywords run the extractall. Both impls
    share the gate semantics (populated iff the keyword substring appears).
    """
    mask = (
        doc_text.str.contains("layer", regex=False)
        | doc_text.str.contains("region", regex=False)
    ).fillna(False)
    sub = doc_text[mask]
    out = pd.Series([None] * len(doc_text), index=doc_text.index, dtype=object)
    if not sub.empty:
        # findall, same rationale (and same keep-last-duplicate semantics)
        # as the props pass in _extract_synapse — ~5× measured
        fa = sub.str.findall(_NODE_ATTR_RE)
        out.loc[sub.index] = fa.map(
            lambda ms: dict(ms) if isinstance(ms, list) and ms else None
        )
    return out


def extract_documents(parsed: DataFrame, impl: str = "native") -> DataFrame:
    """ONE pass over document text -> compact extraction frame.

    Output: (doc_id, media_refs, mentions array<struct>, synapse struct,
    node_attrs map<string,string> — layer/region property payloads).
    With ``impl='arrow'`` the pandas UDFs sit in the same projection, so
    Spark fuses them into a single ArrowEvalPython node — the text crosses
    the Arrow boundary once. The result is ~100× smaller than the raw
    text, which is what makes it the *correct* thing to persist at 100 TB:
    downstream branches (mention linking and synapse assembly) re-read
    this compact frame instead of re-scanning + re-parsing + re-regexing
    the full corpus once each.
    """
    if impl == "arrow":
        return parsed.select(
            "doc_id",
            "media_refs",
            _extract_entity_mentions("doc_text").alias("mentions"),
            _extract_synapse("doc_text").alias("synapse"),
            _extract_node_attrs("doc_text").alias("node_attrs"),
        )
    if impl == "native":
        # TWO projections: the entry arrays materialize as named columns
        # first, and the dedup lambdas in the second projection reference
        # those attributes. Inlining the extraction into the filter
        # lambdas would make codegen re-run the full regexp per array
        # element (loop-invariant subexpressions are NOT hoisted out of
        # higher-order-function lambdas — same trap as shingle_expr,
        # operators/text.py).
        pairs = F.expr(f"regexp_extract_all(doc_text, '{_sql_re(_ENTITY_RE)}', 0)")
        prop_sql = _sql_re(_PROP_RE)
        attr_sql = _sql_re(_NODE_ATTR_RE)
        syn_sql = _sql_re(_SYNAPSE_RE)
        # The substring pre-masks GATE the extractalls themselves (not just
        # the emitted map): the entry arrays materialize in this projection
        # for every row, so an ungated extractall ran the props regex — the
        # most expensive expression of the stage — over the ~half of the
        # corpus that cannot match it (the arrow impl already masks this
        # way; r06 brought the native impl to parity). Emission below is
        # additionally gated on the same predicates, so outputs are
        # unchanged — docs without the keyword produced NULL maps before
        # and still do.
        extracted = parsed.select(
            "doc_id",
            "media_refs",
            "doc_text",
            F.expr(
                f"CASE WHEN contains(doc_text, 'synapse') THEN"
                f" transform(regexp_extract_all(doc_text, '{prop_sql}', 0),"
                f" h -> struct(regexp_extract(h, '{prop_sql}', 1) as k,"
                f" cast(regexp_extract(h, '{prop_sql}', 2) as double) as v))"
                f" ELSE NULL END"
            ).alias("_prop_entries"),
            F.expr(
                f"CASE WHEN contains(doc_text, 'layer') OR contains(doc_text, 'region')"
                f" THEN transform(regexp_extract_all(doc_text, '{attr_sql}', 0),"
                f" h -> struct(regexp_extract(h, '{attr_sql}', 1) as k,"
                f" regexp_extract(h, '{attr_sql}', 2) as v))"
                f" ELSE NULL END"
            ).alias("_attr_entries"),
            # Endpoint extraction, r06: the r05 shape ran the SYNAPSE
            # regex over the FULL doc_text twice per row (once per
            # capture group), ungated — for every doc, though the
            # pattern literally requires the word 'synapse' (so the
            # substring gate is implied by the pattern: losslessly
            # skippable for the ~half of the corpus without it). Extract
            # the full match ONCE here; the group pulls below then run
            # over the ~30-char match string instead of the document.
            # Docs without the keyword get NULL (regexp on NULL is NULL,
            # nullif('')) — exactly the '' → NULL path they took before.
            F.expr(
                f"CASE WHEN contains(doc_text, 'synapse') THEN"
                f" regexp_extract(doc_text, '{syn_sql}', 0)"
                f" ELSE NULL END"
            ).alias("_syn_match"),
        )

        def keep_last_map(entries_col: str) -> F.Column:
            # map_from_entries throws DUPLICATED_MAP_KEY on repeated keys
            # (default spark.sql.mapKeyDedupPolicy=EXCEPTION); the arrow
            # impl's python dicts silently keep the LAST value. Mirror
            # that: drop any entry whose key reappears later in the array.
            return F.map_from_entries(
                F.expr(
                    f"filter({entries_col}, (e, i) ->"
                    f" NOT exists(slice({entries_col}, i + 2,"
                    f" size({entries_col})), x -> x.k = e.k))"
                )
            )

        props_expr = keep_last_map("_prop_entries")
        attrs_expr = keep_last_map("_attr_entries")
        # Gate props/afferent on the same 'synapse' substring the arrow
        # impl pre-masks with, so the two impls agree on every input —
        # including a 'prop ...' line in a doc with no synapse statement.
        has_syn = F.contains(F.col("doc_text"), F.lit("synapse"))
        has_attr = F.contains(F.col("doc_text"), F.lit("layer")) | F.contains(
            F.col("doc_text"), F.lit("region")
        )
        return extracted.select(
            "doc_id",
            "media_refs",
            F.transform(
                pairs,
                lambda h: F.struct(
                    F.regexp_extract(h, _ENTITY_RE, 1).alias("kind"),
                    F.regexp_extract(h, _ENTITY_RE, 2).alias("surface"),
                ),
            ).alias("mentions"),
            F.struct(
                F.nullif(
                    F.regexp_extract("_syn_match", _SYNAPSE_RE, 1), F.lit("")
                ).alias("src_surface"),
                F.nullif(
                    F.regexp_extract("_syn_match", _SYNAPSE_RE, 2), F.lit("")
                ).alias("tgt_surface"),
                F.when(has_syn & (F.size(props_expr) > 0), props_expr).alias("props"),
                F.when(
                    has_syn,
                    F.nullif(F.regexp_extract("doc_text", _AFF_RE, 1), F.lit("")),
                ).alias("afferent_section_type"),
            ).alias("synapse"),
            F.when(has_attr & (F.size(attrs_expr) > 0), attrs_expr).alias("node_attrs"),
        )
    raise ValueError(f"unknown impl: {impl}")


def _all_mentions_expr() -> F.Column:
    """Entity mentions ∪ media refs (as kind='media' structs) — the ONE
    definition of "all mentions of a document", shared by the explode
    path (:func:`mentions_from_extracted`) and the pair-first attribute
    path (:func:`attribute_pairs_from_extracted`) so the two can never
    silently diverge on media/null handling."""
    media_as_mentions = F.transform(
        F.coalesce("media_refs", F.array().cast("array<string>")),
        lambda r: F.struct(F.lit("media").alias("kind"), r.alias("surface")),
    )
    return F.concat(F.coalesce("mentions", F.array()), media_as_mentions)


def mentions_from_extracted(extracted: DataFrame) -> DataFrame:
    """(doc_id, kind, surface) rows from the compact extraction frame.

    Media refs become mentions (kind='media') in the SAME projection —
    concat + one explode, so the extraction frame is scanned once (a
    union of two selects would read it twice, recomputing the UDFs when
    the frame isn't persisted)."""
    return extracted.select(
        "doc_id",
        F.explode(_all_mentions_expr()).alias("m"),
    ).select("doc_id", F.col("m.kind").alias("kind"), F.col("m.surface").alias("surface"))


def attribute_pairs_from_extracted(extracted: DataFrame) -> DataFrame:
    """(doc_id, subj_surface, kind, obj_surface) neuron×attribute pairs,
    paired INSIDE each extraction row — zero shuffle.

    The compact extraction frame already co-locates every mention of a
    document in one row, so the subject×object pairing that a doc_id
    self-join of linked mentions would express (a corpus-scale shuffle of
    both mention sides) is really a per-row array cross product:
    neuron-kind mentions × everything else (media refs ride along as
    kind='media', exactly as in :func:`mentions_from_extracted`). Downstream, both surfaces link via
    broadcast joins and the final (subj, pred, obj) dedup is the ONLY
    exchange — and it map-side-combines to dimension size. At 100 TB the
    removed shuffle is corpus-scale; this one is the difference between
    shuffling every mention row and shuffling the distinct triple set.

    ASSUMES ``doc_id`` uniquely identifies an extraction row. Pairing here
    is per ROW, while a doc_id self-join pairs per ``doc_id`` — if a
    corpus carried duplicate doc_id rows, the self-join form would also
    produce cross-ROW pairs within the id and the two would diverge. ``parse.parse_documents`` preserves input
    cardinality, so uniqueness holds whenever the source corpus is keyed
    by doc_id (all engine sources are); corpora that are not must be
    exact-deduped first (operators/dedup.py). The arrow-vs-native equality
    suite covers unique-id corpora only, deliberately.
    """
    all_m = _all_mentions_expr()
    subs = F.filter(all_m, lambda m: m["kind"] == F.lit("neuron"))
    objs = F.filter(all_m, lambda m: m["kind"] != F.lit("neuron"))
    pairs = F.flatten(
        F.transform(
            subs,
            lambda s: F.transform(
                objs,
                lambda o: F.struct(
                    s["surface"].alias("subj_surface"),
                    o["kind"].alias("kind"),
                    o["surface"].alias("obj_surface"),
                ),
            ),
        )
    )
    return extracted.select("doc_id", F.explode(pairs).alias("_p")).select(
        "doc_id",
        F.col("_p.subj_surface").alias("subj_surface"),
        F.col("_p.kind").alias("kind"),
        F.col("_p.obj_surface").alias("obj_surface"),
    )


def synapses_from_extracted(extracted: DataFrame) -> DataFrame:
    """One row per synapse statement from the compact extraction frame."""
    return (
        extracted.select("doc_id", "synapse.*")
        .where(F.col("src_surface").isNotNull() & F.col("tgt_surface").isNotNull())
    )

