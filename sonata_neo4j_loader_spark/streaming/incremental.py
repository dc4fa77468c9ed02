"""Incremental (streaming) triple ingest over a growing documents directory.

The reference is strictly batch with a destructive ``clear_database``
prologue (``circuit/circuit_loader.py:30``) — reloading everything on every
new data drop. This module adds what a 10^12-doc corpus actually needs:
process only NEW document files, exactly once, resumable.

Design: ``readStream`` on the documents directory + ``foreachBatch``.
Per-document triple derivation is self-contained (every triple comes from
one doc), so each micro-batch runs the batch plan's own attribute-triple
path (parse -> extract -> ``triples.attribute_triples``: pair inside the
row, link against the canonical dictionary, MERGE dedup) and appends to
the sink — no stream-stream join or watermark state is needed. As in the
batch plan, the alias→canonical rewrite is applied to the DICTIONARY, once
per drain, not to every micro-batch's linked rows. The streaming
checkpoint records which input files are done; a killed/restarted run
(``trigger(availableNow=True)``) picks up where it left off without
reprocessing — the streaming twin of the batch sink's manifest resume
(sinks/materialize.py).

Cross-batch MERGE semantics: the same fact stated in docs that land in
different batches appends twice; :func:`read_incremental_triples` restores
the reference's MERGE dedup (neo4j_operations.py:338) on read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import canonicalize, mentions, parse, triples


def start_incremental_attribute_triples(
    spark: SparkSession,
    corpus_dir: str,
    entities: DataFrame,
    alias_edges: DataFrame | None,
    output_dir: str,
    checkpoint_dir: str,
):
    """Drain all currently-available new documents into the triple sink.

    Returns the finished ``StreamingQuery`` (already awaited). Call again
    after more files land — the checkpoint skips everything already done.
    """
    from ..datagen.documents import DOC_SCHEMA

    if alias_edges is not None:
        mapping = canonicalize.connected_components(alias_edges)
        entities = canonicalize.apply_canonical_mapping(
            entities, mapping, "entity_id"
        ).persist()

    stream = spark.readStream.schema(DOC_SCHEMA).parquet(corpus_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse.parse_documents(batch_df).where(F.col("spans_valid"))
        attr = triples.attribute_triples(
            mentions.extract_documents(parsed), entities
        ).withColumn("batch_id", F.lit(batch_id))
        attr.write.mode("append").parquet(output_dir)

    try:
        query = (
            stream.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        # the sink is parquet on disk; nothing downstream reads through the
        # cached dictionary, so holding it past the drain would leak a
        # cached frame per call in a long-lived session
        if alias_edges is not None:
            entities.unpersist()
    return query


def read_incremental_triples(spark: SparkSession, output_dir: str) -> DataFrame:
    """Committed triples with cross-batch MERGE dedup (reference
    ``MERGE`` upsert semantics, neo4j_operations.py:323-346)."""
    return (
        spark.read.parquet(output_dir)
        .select("subj", "pred", "obj")
        .dropDuplicates(["subj", "pred", "obj"])
    )
