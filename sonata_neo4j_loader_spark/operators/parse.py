"""Stage 1 — parse/normalize interleaved span sequences.

The reference's parser reads SONATA attributes column-by-column and trusts
HDF5 dataset order (``circuit/data_extraction.py:52-58``). Here the unit of
work is a document whose spans may be *stored* in any array order; the
``offset`` field is the truth. Parsing:

* restores canonical order with ``array_sort`` + comparator (JVM-side,
  no shuffle — spans live inside one row),
* validates the span sequence (offsets dense + unique from 0),
* derives ``doc_text`` (ordered text spans joined) and ``media_refs``
  (ordered media refs) for the mention stage,
* exposes a per-row fingerprint so any later explode/re-assembly can be
  audited for span-sequence equality (kind, text, media_ref, order) — the
  north-rule per-row invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SORT = "array_sort(spans, (l, r) -> l.offset - r.offset)"

# Fingerprint of the *logical* sequence (kind, text, media_ref, order):
# hash of the offset-ordered spans, insensitive to storage order.
_FINGERPRINT = (
    "xxhash64(aggregate("
    + _SORT
    + ", '', (acc, s) -> concat(acc, '\\u0001', s.kind, '\\u0002', s.text,"
    " '\\u0002', s.media_ref)))"
)


def span_fingerprint() -> F.Column:
    """Column: order-canonical fingerprint of a ``spans`` column."""
    return F.expr(_FINGERPRINT)


def parse_documents(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, spans, doc_text, media_refs, span_fingerprint, spans_valid).

    All five outputs derive from the SAME sorted-spans array, so the sort
    is bound ONCE via the ``transform(array(X), sp -> ...)`` let-binding
    idiom instead of being re-inlined into every consumer: higher-order
    functions are interpreted (no whole-stage codegen, hence no codegen
    subexpression elimination), and the naive ``withColumn`` chain
    collapsed into one projection that re-ran the comparator
    ``array_sort`` once per consumer — measured ~2× on the scan+parse leg
    at 6M docs (PERF_NOTES.md round 3). The struct stays in its own
    projection; CollapseProject keeps it single-evaluation because the
    producer expression is non-cheap and multiply-referenced
    (SPARK-36718).
    """
    packed = F.expr(
        "transform(array(" + _SORT + "), sp -> struct("
        " sp AS spans,"
        # validity = the offset array IS 0..n-1 — one transform + an array
        # equality instead of transform+zip_with+forall (r06; same result,
        # the two arrays always have equal length by construction)
        " CASE WHEN size(sp) = 0 THEN false ELSE"
        "   transform(sp, s -> s.offset) = sequence(0, size(sp) - 1) END AS spans_valid,"
        " array_join(transform(filter(sp, s -> s.kind = 'text'), s -> s.text), ' ')"
        "   AS doc_text,"
        " transform(filter(sp, s -> s.kind = 'media'), s -> s.media_ref)"
        "   AS media_refs"
        "))[0]"
    )
    # exclude every column this function (re)derives, not just `spans`:
    # the old withColumn chain REPLACED pre-existing derived columns, so
    # re-parsing an already-parsed frame was idempotent — the select
    # rewrite must not emit duplicates (AMBIGUOUS_REFERENCE downstream)
    _derived = {"spans", "span_fingerprint", "spans_valid", "doc_text", "media_refs"}
    other_cols = [c for c in docs.columns if c not in _derived]
    # gen_barrier (r06): every caller filters on spans_valid; Catalyst
    # substitutes the attribute with the FULL packed expression and
    # pushes the filter below this projection, so the scan evaluated the
    # whole sort+struct parse TWICE per row (once in the pushed filter
    # just to read .spans_valid, once in the projection). The barrier
    # marks the producer non-deterministic, pinning the filter above the
    # projection — single evaluation, identical rows.
    from .dedup import gen_barrier

    packed = gen_barrier(packed)
    # span_fingerprint stays an INDEPENDENT column (not a struct member):
    # nothing in the pipeline reads it (the audit recomputes fingerprints
    # from `spans`), so keeping it separate lets Catalyst prune its
    # aggregate+hash away entirely on the hot path.
    return docs.select(
        *other_cols, packed.alias("_parsed"), span_fingerprint().alias("span_fingerprint")
    ).select(
        *other_cols,
        F.col("_parsed.spans").alias("spans"),
        "span_fingerprint",
        F.col("_parsed.spans_valid").alias("spans_valid"),
        F.col("_parsed.doc_text").alias("doc_text"),
        F.col("_parsed.media_refs").alias("media_refs"),
    )


def audit_span_invariant(original: DataFrame, processed: DataFrame) -> DataFrame:
    """Rows whose span sequence was NOT preserved (must be empty).

    ``original`` and ``processed`` both need (doc_id, spans). Equality is
    on the logical sequence (kind, text, media_ref, order) — storage
    permutations are allowed, mutations/drops/reorders of the logical
    sequence are not.
    """
    a = original.select("doc_id", span_fingerprint().alias("fp_in"))
    b = processed.select("doc_id", span_fingerprint().alias("fp_out"))
    return (
        a.join(b, "doc_id", "full_outer")
        .where(
            F.col("fp_in").isNull()
            | F.col("fp_out").isNull()
            | (F.col("fp_in") != F.col("fp_out"))
        )
    )


def parse_edge_population_name(
    df: DataFrame, col: str = "edge_population"
) -> DataFrame:
    """SONATA edge-population name -> (source_pop, target_pop) columns.

    ≙ the reference's positional split (``data_extraction.py:147-159``):
    ``"A__B__chemical".split("__")`` takes parts [0]/[1]; the literal name
    ``"default"`` maps to the hard-coded ``hippocampus_neurons`` pair; any
    other name with fewer than 3 parts is *skipped* (the reference
    ``continue``s past the population).
    """
    parts = F.split(F.col(col), "__")
    is_default = F.col(col) == "default"
    fallback = F.lit("hippocampus_neurons")
    return (
        df.where(is_default | (F.size(parts) >= 3))
        .withColumn("source_pop", F.when(is_default, fallback).otherwise(parts.getItem(0)))
        .withColumn("target_pop", F.when(is_default, fallback).otherwise(parts.getItem(1)))
    )

