"""Streaming incremental ingest: new files only, exactly once, resumable.

Drops each corpus (the fixture and a synthetic slice) into a directory in
two file batches; each drain must process only the new files
(checkpoint-gated), and the deduped union must equal the batch pipeline's
attribute triples.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sonata_neo4j_loader_spark.datagen import documents as dg
from sonata_neo4j_loader_spark.plans import pipeline
from sonata_neo4j_loader_spark.streaming import incremental as inc

# (documents, entities, alias_edges) builders: the 25-triple fixture and a
# synthetic slice with lowercase-alias documents, so stream == batch is
# checked where canonicalization folds real alias clusters
CORPORA = {
    "fixture": lambda spark: (
        dg.fixture_documents(spark),
        dg.fixture_entities(spark),
        dg.fixture_alias_edges(spark),
    ),
    "synthetic": lambda spark: (
        dg.synthetic_documents(spark, 400, 500, 100, n_populations=4,
                               neurons_per_pop=50),
        dg.synthetic_entities(spark, n_populations=4, neurons_per_pop=50),
        dg.synthetic_alias_edges(spark, n_populations=4, neurons_per_pop=50),
    ),
}


@pytest.fixture(scope="module", params=sorted(CORPORA))
def corpus_and_golden(request, spark):
    docs, entities, aliases = CORPORA[request.param](spark)
    out = pipeline.build_triples(spark, docs, entities, aliases)
    golden = {(r.subj, r.pred, r.obj) for r in out["attribute_triples"].collect()}
    return docs, entities, aliases, golden


def test_incremental_two_drops_then_noop(spark, corpus_and_golden, tmp_path):
    docs, entities, aliases, golden_attr = corpus_and_golden
    corpus = str(tmp_path / "docs")
    sink = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")

    half1 = docs.where(F.xxhash64("doc_id") % 2 == 0)
    half2 = docs.subtract(half1)
    assert half1.count() > 0 and half2.count() > 0

    # drop 1
    half1.write.mode("append").parquet(corpus)
    inc.start_incremental_attribute_triples(spark, corpus, entities, aliases, sink, ckpt)
    n1 = spark.read.parquet(sink).count()
    assert n1 > 0

    # drop 2: only the new files are processed
    half2.write.mode("append").parquet(corpus)
    inc.start_incremental_attribute_triples(spark, corpus, entities, aliases, sink, ckpt)
    n2 = spark.read.parquet(sink).count()
    assert n2 > n1

    # deduped union == batch pipeline output (MERGE semantics restored)
    got = {
        (r.subj, r.pred, r.obj)
        for r in inc.read_incremental_triples(spark, sink).collect()
    }
    assert got == golden_attr

    # no new files -> nothing appended (exactly-once progress via checkpoint)
    inc.start_incremental_attribute_triples(spark, corpus, entities, aliases, sink, ckpt)
    assert spark.read.parquet(sink).count() == n2


def test_incremental_drain_leaves_no_lingering_cache(spark, tmp_path):
    """The canonical-mapping cache is released after the drain: repeated
    calls in a long-lived session must not grow the persisted-RDD set."""
    corpus = str(tmp_path / "docs")
    sink = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    dg.fixture_documents(spark).write.mode("append").parquet(corpus)

    def n_persistent() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = n_persistent()
    inc.start_incremental_attribute_triples(
        spark, corpus, dg.fixture_entities(spark), dg.fixture_alias_edges(spark),
        sink, ckpt,
    )
    assert n_persistent() == before
