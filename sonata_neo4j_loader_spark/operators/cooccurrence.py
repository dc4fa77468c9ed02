"""Entity co-occurrence edges from linked mentions.

Engine addition beyond the reference: the reference only emits edges its
input explicitly states (SYNAPSES_ONTO rows from the edge files); a
knowledge-graph construction pipeline also mines CANDIDATE relations —
"these two entities keep appearing in the same document" — as weighted
co-occurrence edges for downstream relation extraction / embedding
training. Input is the linked-mention frame the pipeline already
produces (``(doc_id, entity_id)`` after dictionary linking and
canonicalization), so precision pressure is inherited: unlinkable
surfaces never reach the pair stage.

Scale posture — the same pair-first shape as the attribute branch
(``mentions.attribute_pairs_from_extracted``): pairing happens INSIDE a
per-document row, never as a corpus-scale self-join.

* ``groupBy(doc).collect_set(entity)`` — ONE map-side-combinable
  shuffle keyed on the (high-cardinality, balanced) document id;
  ``collect_set`` deduplicates repeat mentions in the same pass. The
  per-doc entity set is bounded by document size — the same bound the
  parser already assumes — so the row stays small.
* the unordered pairs are a JVM array cross product over the SORTED set
  (``a < b`` by construction, no post-hoc ``least``/``greatest``), and
  the count is a second map-side-combined shuffle on the pair key — a
  corpus-universal hot pair partial-aggregates to one row per map task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cooccurrence_edges(
    linked: DataFrame,
    doc_col: str = "doc_id",
    entity_col: str = "entity_id",
    min_count: int = 1,
) -> DataFrame:
    """``(entity_a, entity_b, n_docs)`` for every unordered entity pair
    mentioned together in at least ``min_count`` documents
    (``entity_a < entity_b`` lexicographically).
    """
    per_doc = linked.groupBy(F.col(doc_col).alias("doc")).agg(
        F.sort_array(F.collect_set(F.col(entity_col))).alias("ents")
    )
    ents = F.col("ents")
    pair_arr = F.flatten(
        F.transform(
            ents,
            lambda a, i: F.transform(
                F.slice(ents, i + 2, F.size(ents)),
                lambda b: F.struct(a.alias("entity_a"), b.alias("entity_b")),
            ),
        )
    )
    pairs = per_doc.select(F.explode(pair_arr).alias("p")).select(
        "p.entity_a", "p.entity_b"
    )
    return (
        pairs.groupBy("entity_a", "entity_b")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_count)
    )
