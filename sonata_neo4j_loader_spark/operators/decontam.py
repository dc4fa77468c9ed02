"""Benchmark decontamination: n-gram overlap between a training corpus
and a held-out evaluation set.

Engine addition beyond the reference: the train/test-contamination
filter of an LM data pipeline — a training document that shares any
word n-gram with an evaluation document is flagged (and usually
dropped), the GPT-3-style "13-gram overlap" rule with a configurable
``n``. Reuses :func:`operators.text.word_ngrams` (lowercased,
whitespace-tokenized, short-doc-guarded) so the gram definition is the
one the rest of the text stack already certifies.

Scale posture: the eval side is benchmark-sized (thousands of docs, not
the corpus), so its distinct gram set is always BROADCAST and the
corpus-scale train gram stream is probed map-side — the only shuffle in
the whole operator is the final map-side-combined ``groupBy(doc_id)``.
Per-doc grams are deduplicated with ``array_distinct`` BEFORE the
explode, so the join input carries each (doc, gram) once and the hit
count needs no post-join distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sonata_neo4j_loader_spark.operators import text


def doc_ngrams(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """``(id, gram)`` — each document's DISTINCT word n-grams, exploded."""
    return df.select(
        F.col(id_col),
        F.explode(F.array_distinct(text.word_ngrams(text_col, n))).alias("gram"),
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """``(id, n_hits)`` for every CONTAMINATED training document —
    ``n_hits`` = how many of the doc's distinct n-grams occur anywhere
    in the eval set. Clean documents are absent (filter semantics; the
    caller anti-joins or left-joins as needed)."""
    eval_grams = F.broadcast(
        doc_ngrams(eval_df, id_col, text_col, n).select("gram").distinct()
    )
    hits = doc_ngrams(train, id_col, text_col, n).join(eval_grams, "gram")
    return hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hits"))

